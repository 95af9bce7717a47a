package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One benchmark run in one fresh JVM: set up, run the workload's
  * closed loop with one client until the time is up, then write the
  * raw samples, counters and (when traced) spans as JSON for
  * `run.py`, which derives the metrics and checks the outputs.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir>
  * <workDir> <resultFile> <verifiedFile>
  *
  * `verifiedFile` lists "<input digest> <entry> <result digest>" lines
  * whose outputs already matched the oracle; only results with other
  * digests are written out for `run.py` to compare.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dataDir: String, workDir: String, resultFile: String,
      verified: Set[(String, String, String)])

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir, out,
      verifiedFile) = argv
    val verified = Files.readAllLines(Paths.get(verifiedFile)).asScala
      .map(_.trim.split(" ")).collect { case Array(k, n, d) => (k, n, d) }
      .toSet
    val args = Args(workload, seed.toLong, seconds.toDouble, trace == "1",
      dataDir, workDir, out, verified)
    val cores = Runtime.getRuntime.availableProcessors()
    // the load shape graft.Bench uses: local[N] with N shuffle partitions
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // graft's SQL functions, so regenerated SQL that calls them resolves
    graft.GraftExtensions.register(spark)
    val run = new Run(spark, args, cores)
    val result =
      try run.execute()
      finally {
        spark.streams.active.foreach(q => q.stop())
        spark.stop()
      }
    Files.writeString(Paths.get(out), Json.render(result))
  }
}

/** State shared by the three workloads: timing samples, operation
  * outcomes, per-op counters, and the tracer.
  */
final class Run(spark: SparkSession, args: Harness.Args, cores: Int) {
  import Run._

  private val sc = spark.sparkContext
  private val listener = new BenchListener
  if (args.trace) sc.addSparkListener(listener)
  val tracer = new Tracer(args.trace, sc)

  /** Named latency samples (seconds), in the order taken. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, ArrayBuffer()) += v

  /** Per-layer counters summed over the run. */
  val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def count(k: String, v: Double): Unit = counters(k) = counters(k) + v

  /** Every operation attempted: id, kind, name, ok, error. */
  val ops = ArrayBuffer[Map[String, Any]]()
  val diagnostics = mutable.LinkedHashMap[String, Any]()
  /** Outputs for run.py to compare with the oracle: name -> directory. */
  val outputs = mutable.LinkedHashMap[String, String]()
  /** Digest of each entry's result: name -> digest. */
  val digests = mutable.LinkedHashMap[String, String]()

  private var heapPeak = 0L
  /** Old-generation occupancy after a full collection, so the figure is
    * retained data rather than garbage awaiting collection. Taken when
    * set-up ends and when the loop ends, outside every timed span. The
    * second collection follows a pause in which Spark's asynchronous
    * block removal (unpersist) finishes.
    */
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapPeak = math.max(heapPeak, JvmStats.oldGenAfterGcBytes)
  }

  private var opSeq = 0
  /** Run one timed operation. Failures are recorded, never rethrown:
    * the loop goes on and the failure counts against the run.
    */
  def operation(kind: String, name: String)(body: => Unit): Boolean = {
    opSeq += 1
    val id = opSeq
    val err =
      try { tracer.op(id, kind + ":" + name)(body); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(300)) }
    ops += Map("id" -> id, "kind" -> kind, "name" -> name,
      "ok" -> err.isEmpty, "error" -> err)
    err.isEmpty
  }

  /** Spark-independent JVM counters around a block, summed into the
    * per-layer counters.
    */
  def jvmCounted[T](body: => T): T = {
    val gc0 = JvmStats.gcMs
    val jit0 = JvmStats.jitMs
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    val cgN0 = cg.getCount
    try body
    finally {
      count("jvm.gc_s", (JvmStats.gcMs - gc0) / 1000)
      count("jvm.jit_s", (JvmStats.jitMs - jit0) / 1000)
      val n = cg.getCount - cgN0
      count("codegen.classes", n.toDouble)
      // the histogram keeps no sum; its reservoir mean times the new
      // compilations estimates their compile time
      if (n > 0) count("codegen.compile_s", n * cg.getSnapshot.getMean / 1000)
    }
  }

  def planCounters(df: DataFrame): Unit = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def phase(p: String) = phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    count("catalyst.analysis_s", phase("analysis"))
    count("catalyst.optimization_s", phase("optimization"))
    count("catalyst.planning_s", phase("planning"))
    count("plan.exchanges", exchanges(qe.executedPlan).toDouble)
  }

  private var loopEnd = 0L
  def startLoop(): Unit =
    loopEnd = System.nanoTime() + (args.seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < loopEnd

  val setupRuns = ArrayBuffer[Double]()
  /** `reps` repetitions of the repeatable part of set-up (input
    * generation, registration, store founding); the run reports
    * JVM-to-session time plus their median.
    */
  def setup[T](reps: Int)(body: Int => T): T = {
    var last: Option[T] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      last = Some(tracer.span("setup")(body(r)))
      setupRuns += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  def execute(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionReady = Clock.ms()
    val wl: Workload = args.workload match {
      case "olap_interactive" => new OlapInteractive(this, spark, args)
      case "corpus_batch" => new CorpusBatch(this, spark, args)
      case "living_corpus" => new LivingCorpus(this, spark, args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    sampleHeap()
    val loopStart = Clock.ms()
    val loopNs = System.nanoTime()
    startLoop()
    wl.loop()
    val loopS = (System.nanoTime() - loopNs) / 1e9
    count("trace.bookkeeping_s", tracer.bookkeepingNs / 1e9)
    val loopEndMs = Clock.ms()
    sampleHeap()
    val checks = wl.finish()
    diagnostics("finish_s") = (Clock.ms() - loopEndMs) / 1000
    diagnostics("setup_total_s") = (loopStart - sessionReady) / 1000
    if (args.trace) BenchAccess.drainListenerBus(sc)
    Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "cores" -> cores, "trace" -> args.trace,
      "jvm_to_session_s" -> (sessionReady - jvmStart) / 1000,
      "setup_runs_s" -> setupRuns,
      "loop_s" -> loopS,
      "samples" -> samples, "counters" -> counters,
      "ops" -> ops, "heap_peak_mb" -> heapPeak / (1024.0 * 1024.0),
      "checks" -> checks,
      "outputs" -> outputs, "digests" -> digests,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter(e => digests.contains(e._1)),
      "diagnostics" -> diagnostics,
      "spans" -> tracer.toJson,
      "jobs" -> (if (args.trace) listener.jobsJson else Nil),
      "stages" -> (if (args.trace) listener.stagesJson else Nil),
      "listener" -> (if (args.trace) listener.totals.toMap else Map.empty))
  }
}

object Run {
  /** Exchanges in the final (post-AQE) physical plan, subqueries and
    * query stages included.
    */
  def exchanges(p: SparkPlan): Int = {
    def walk(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ => (n.children ++ n.subqueries).flatMap(walk)
    })
    walk(p).count(_.isInstanceOf[Exchange])
  }

  /** A value's canonical text: exact for numbers, element-wise for
    * nested types, content (not identity) for binary.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** Order-insensitive digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Digest of the parquet files in a directory (shipped inputs). */
  def fileDigest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach { f =>
        md.update(f.getName.getBytes(StandardCharsets.UTF_8))
        md.update(Files.readAllBytes(f.toPath))
      }
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  /** Order-insensitive content digest of generated input tables: row
    * count and the sum of row hashes per table, hashed into one hex
    * string.
    */
  def inputDigest(spark: SparkSession, dir: String,
      tables: Seq[String]): String = {
    val parts = tables.map { t =>
      val df = graft.Tables.load(spark, dir, t)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")))
        .head()
      s"$t:${r.getLong(0)}:${r.get(1)}"
    }
    MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString(";").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(32)
  }

  def deleteRecursively(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Bytes on disk under a directory, checksum files included. */
  def du(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Bytes written through the local Hadoop filesystem since JVM
    * start, over every thread (Spark tasks run in this JVM).
    */
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum
}

trait Workload {
  def loop(): Unit
  /** End-of-run work and checks; returns the checks by name. */
  def finish(): Map[String, Any]
}

/** Shared body of the two read workloads: each operation builds one
  * `SparkEntry.queries` entry, executes and collects it, digests the
  * result, and (olap only) regenerates and re-analyzes its SQL. The
  * first result of each entry is kept and written out after the loop
  * for the oracle compare; later results must repeat its digest.
  */
abstract class EntryWorkload(run: Run, spark: SparkSession,
    args: Harness.Args) extends Workload {
  def entries: Seq[String]
  def dir: String
  def withSqlGen: Boolean
  /** Whether the first pass runs to its end past the deadline. */
  def wholeFirstPass: Boolean
  def inputKey: String

  private val fns = graft.SparkEntry.queries
  private val first = mutable.LinkedHashMap[String, (Array[Row], StructType, String)]()
  val rnd = new scala.util.Random(args.seed)
  val passWalls = ArrayBuffer[Double]()

  def runEntry(name: String): Unit = run.operation("entry", name) {
    var rows: Array[Row] = null
    var df: DataFrame = null
    run.jvmCounted {
      val t0 = System.nanoTime()
      df = run.tracer.span("build")(fns(name)(spark, dir))
      val tb = System.nanoTime()
      run.count("queries.build_s", (tb - t0) / 1e9)
      run.tracer.span("analyze")(df.queryExecution.analyzed)
      run.tracer.span("optimize")(df.queryExecution.optimizedPlan)
      run.tracer.span("plan")(df.queryExecution.executedPlan)
      rows = run.tracer.span("execute")(df.collect())
      val q = (System.nanoTime() - t0) / 1e9
      run.sample("query_s", q)
      run.sample(s"entry.${name}_s", q)
    }
    run.tracer.span("check") {
      if (args.trace) run.planCounters(df)
      val d = Run.digest(rows)
      first.get(name) match {
        case None => first(name) = (rows, df.schema, d)
        case Some((_, _, d0)) =>
          require(d == d0, s"$name: result differs from its first run")
      }
    }
    graft.operators.Dedup.unpersistAll()
    if (withSqlGen) run.jvmCounted {
      val t0 = System.nanoTime()
      val text = run.tracer.span("to_sql")(graft.sqlgen.SqlGen.toSql(df))
      val t1 = System.nanoTime()
      val re = run.tracer.span("reparse")(spark.sql(text))
      val t2 = System.nanoTime()
      run.sample("sqlgen_s", (t2 - t0) / 1e9)
      run.count("sqlgen.to_sql_s", (t1 - t0) / 1e9)
      run.count("sqlgen.reparse_s", (t2 - t1) / 1e9)
      run.count("sqlgen.sql_chars", text.length.toDouble)
      require(re.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq,
        s"$name: regenerated SQL has columns " +
          re.schema.fieldNames.mkString(",") + ", expected " +
          df.schema.fieldNames.mkString(","))
    }
  }

  def loop(): Unit = {
    var pass = 0
    while (run.timeLeft) {
      val order = rnd.shuffle(entries)
      val t0 = System.nanoTime()
      val it = order.iterator
      while (it.hasNext && (run.timeLeft || (wholeFirstPass && pass == 0)))
        runEntry(it.next())
      if (!it.hasNext) passWalls += (System.nanoTime() - t0) / 1e9
      pass += 1
    }
    run.diagnostics("pass_walls_s") = passWalls
    run.diagnostics("passes_started") = pass
  }

  def finish(): Map[String, Any] = {
    val outDir = s"${args.workDir}/outputs"
    first.foreach { case (name, (rows, schema, d)) =>
      run.digests(name) = d
      if (!args.verified((inputKey, name, d))) {
        val p = s"$outDir/$name"
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(p)
        run.outputs(name) = p
      }
    }
    Map.empty
  }
}

/** q01–q49, e01–e09 and g01 on the shipped sf0.01 tables. */
final class OlapInteractive(run: Run, spark: SparkSession,
    args: Harness.Args) extends EntryWorkload(run, spark, args) {
  val dir = s"${args.dataDir}/sf0.01"
  val withSqlGen = true
  val wholeFirstPass = false
  val entries: Seq[String] = graft.SparkEntry.queries.keys.toSeq
    .filter(_.matches("(q\\d\\d|e\\d\\d|g01)_.*")).sorted
  require(entries.size == 59, s"expected 59 q/e/g entries, found ${entries.size}")

  run.setup(3) { _ => graft.Tables.register(spark, dir) }
  run.diagnostics("entries") = entries.size
  run.diagnostics("tables_dir") = dir
  val inputKey = Run.fileDigest(dir)
  run.diagnostics("input_digest") = inputKey
}

/** Nine pipeline entries over a seeded replication of the sf0.1
  * documents and embeddings.
  */
final class CorpusBatch(run: Run, spark: SparkSession,
    args: Harness.Args) extends EntryWorkload(run, spark, args) {
  import CorpusBatch._
  val dir = s"${args.workDir}/corpus"
  val withSqlGen = false
  // docs_per_s needs one whole pass over the nine entries
  val wholeFirstPass = true
  val entries = Entries

  private val docs = run.setup(3) { _ =>
    generateCorpus(spark, s"${args.dataDir}/sf0.1", dir, Rep, args.seed)
  }
  run.diagnostics("corpus_docs") = docs
  run.diagnostics("tables_dir") = dir
  run.diagnostics("corpus_rep") = Rep
  val inputKey = Run.inputDigest(spark, dir, Seq("documents", "embeddings"))
  run.diagnostics("input_digest") = inputKey
}

object CorpusBatch {
  val Rep = 1
  val Entries = Seq("c10_pipeline_capstone", "d02_dedup_minhash",
    "d06_dup_clusters", "d07_decontaminate", "t07_top_terms",
    "t26_bpe_encode", "s09_bm25", "s11_knn_pq_batch", "s22_knn_hnsw")

  private val IdShift = 100000000L

  /** SfSynth-style replication salted by the seed: copy i shifts ids
    * by i·10⁸ and sorts each document's words by a hash of (word, i,
    * seed). The word multiset is unchanged and equal multisets sort
    * alike, so planted near-duplicates stay near-duplicates.
    */
  def replicateDocuments(docs: DataFrame, rep: Int, seed: Long): DataFrame =
    docs.select(col("*"), explode(sequence(lit(0), lit(rep - 1))).as("_i"))
      .withColumn("doc_id",
        col("doc_id") + col("_i").cast("long") * lit(IdShift))
      .withColumn("text", array_join(
        transform(
          array_sort(transform(split(col("text"), " +"), t =>
            struct(xxhash64(concat(t, lit("#"), col("_i").cast("string"),
              lit("#" + seed))).as("h"), t.as("t")))),
          s => s.getField("t")),
        " "))
      .drop("_i")

  def generateCorpus(spark: SparkSession, src: String, dst: String,
      rep: Int, seed: Long): Long = {
    val docs = replicateDocuments(
      spark.read.parquet(s"$src/documents.parquet"), rep, seed)
      .repartition(4, col("doc_id")).sortWithinPartitions("doc_id")
    docs.write.mode("overwrite").parquet(s"$dst/documents.parquet")
    spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("*"), explode(sequence(lit(0), lit(rep - 1))).as("_i"))
      .withColumn("vec_id",
        col("vec_id") + col("_i").cast("long") * lit(IdShift))
      .drop("_i").repartition(4, col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    spark.read.parquet(s"$dst/documents.parquet").count()
  }

}
