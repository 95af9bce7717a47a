package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Retrieval}
import graft.sources.CorpusStore

/** Writes beside reads on one copy-on-write corpus store with an LSH
  * and a BM25 index and a follower `graft-corpus` stream. Each seeded
  * round ingests a batch, upserts, takes down, probes, and every
  * `MaintainEvery` rounds maintains the store and compacts both
  * indexes. The stream is drained after every commit.
  */
final class LivingCorpus(run: Run, spark: SparkSession,
    args: Harness.Args) extends Workload {
  import LivingCorpus._

  private val rnd = new scala.util.Random(args.seed)
  private val root = s"${args.workDir}/living"
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** What the store must hold: id -> row, maintained from the
    * operations that succeeded.
    */
  private val model = mutable.LinkedHashMap[Long, Row]()
  private val takenDown = mutable.Set[Long]()
  private var pool: Iterator[Row] = Iterator.empty
  private var reserve: IndexedSeq[Row] = IndexedSeq.empty

  private var store = ""
  private var lsh = ""
  private var bm25 = ""
  private var lshGen = 0
  private var stream: StreamingQuery = null
  private val emitted = ArrayBuffer[(Long, Row)]()

  private var bytesWritten = 0L
  private var filesWritten = 0L
  private var bytesIngested = 0L
  private var docsIngested = 0L

  private def payload(r: Row): Long =
    16L + Seq(1, 2, 3).map(i => Option(r.getString(i))
      .map(_.getBytes("UTF-8").length.toLong).getOrElse(0L)).sum

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  // ── set-up: generate the corpus and found the store and indexes ──
  run.setup(SetupReps) { rep =>
    val dir = s"$root/setup$rep"
    Run.deleteRecursively(spark, dir)
    val all = CorpusBatch.replicateDocuments(
      spark.read.parquet(s"${args.dataDir}/sf0.1/documents.parquet"), 1,
      args.seed).select(schema.fieldNames.map(col).toSeq: _*).collect()
    val order = new scala.util.Random(args.seed).shuffle(all.toSeq)
    val (founding, rest) = order.splitAt(Founding)
    val (reserveRows, ingest) = rest.splitAt(Reserve)
    val f = frame(founding)
    CorpusStore.writeCorpusCow(f, s"$dir/store", "doc_id", Buckets)
    Dedup.writeLshIndex(f, "doc_id", "text", s"$dir/lsh/g0")
    Retrieval.writeBm25Index(f, "doc_id", "text", s"$dir/bm25", Bm25Buckets)
    store = s"$dir/store"; lsh = s"$dir/lsh/g0"; bm25 = s"$dir/bm25"
    model.clear(); takenDown.clear()
    founding.foreach(r => model(r.getLong(0)) = r)
    pool = ingest.iterator
    reserve = reserveRows.toIndexedSeq
  }
  (0 until SetupReps - 1).foreach(r =>
    Run.deleteRecursively(spark, s"$root/setup$r"))
  if (args.trace) spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      run.synchronized {
        run.count("streaming.triggers", 1)
        if (p.numInputRows > 0) run.count("streaming.useful_triggers", 1)
        run.count("streaming.planning_s", d("queryPlanning") / 1000)
        run.count("streaming.wal_commit_s",
          (d("walCommit") + d("commitOffsets")) / 1000)
      }
    }
  })
  stream = spark.readStream.format("graft-corpus")
    .option("path", store).option("consumer", "bench").load()
    .writeStream
    .option("checkpointLocation", s"$root/follower-ckpt")
    .trigger(Trigger.ProcessingTime("50 milliseconds"))
    .foreachBatch { (df: DataFrame, id: Long) =>
      val rows = df.select(schema.fieldNames.map(col).toSeq: _*).collect()
      emitted.synchronized { rows.foreach(r => emitted += (id -> r)) }
      ()
    }
    .start()
  stream.processAllAvailable()
  run.diagnostics("founding_docs") = Founding

  /** A commit: time it, count its filesystem writes, drain the
    * follower, and record freshness (commit start to drained).
    */
  private def commit(kind: String, name: String, ingested: Long)
      (body: => Unit)(onOk: => Unit): Unit = {
    val ok = run.operation(kind, name) {
      val b0 = Run.bytesWritten()
      val files0 = storeFiles()
      val t0 = System.nanoTime()
      run.jvmCounted(run.tracer.span("commit")(body))
      val t1 = System.nanoTime()
      bytesWritten += Run.bytesWritten() - b0
      filesWritten += (storeFiles() -- files0).size
      run.sample(s"${kind}_s", (t1 - t0) / 1e9)
      run.sample("write_s", (t1 - t0) / 1e9)
      cycleS += (t1 - t0) / 1e9
      run.count("sources.commits", 1)
      run.tracer.span("drain")(stream.processAllAvailable())
      val t2 = System.nanoTime()
      run.count("streaming.drain_s", (t2 - t1) / 1e9)
      run.sample("freshness_s", (t2 - t0) / 1e9)
    }
    if (ok) { bytesIngested += ingested; onOk }
  }

  /** Every file under the store and both indexes. */
  private def storeFiles(): Set[String] =
    Seq(store, lsh, bm25).flatMap { d =>
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).toList
        finally w.close()
      }
    }.toSet

  private def layer[T](span: String, counter: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try run.tracer.span(span)(body)
    finally run.count(counter, (System.nanoTime() - t0) / 1e9)
  }

  private def liveSample(n: Int): Seq[Long] =
    rnd.shuffle(model.keys.toVector).take(n)

  private var round = 0
  /** Commit time of the current round: its write cycle. */
  private var cycleS = 0.0

  def loop(): Unit = {
    while (run.timeLeft && pool.hasNext) {
      val r = round
      round += 1
      cycleS = 0.0
      // ingest one batch: corpus delta commit plus both index appends
      val batch = pool.take(BatchDocs).toVector
      val bdf = frame(batch)
      commit("ingest", s"round$r", batch.map(payload).sum) {
        layer("cow_ingest", "sources.ingest_s")(
          CorpusStore.cowIngestBatch(store)(bdf, r.toLong))
        layer("lsh_append", "operators.index_append_s")(
          Dedup.appendToLshIndex(bdf, "doc_id", "text", lsh))
        layer("bm25_append", "operators.index_append_s")(
          Retrieval.appendToBm25Index(bdf, "doc_id", "text", bm25))
      } {
        batch.foreach(x => model(x.getLong(0)) = x)
        docsIngested += batch.size
      }
      // upsert: relabel the source of some live documents
      val up = liveSample(UpsertDocs).map { id =>
        val x = model(id)
        Row(x.getLong(0), x.getString(1), x.getString(2), s"upd$r",
          x.getLong(4))
      }
      commit("upsert", s"round$r", up.map(payload).sum) {
        layer("cow_upsert", "sources.upsert_s")(
          CorpusStore.upsertIntoCorpusCow(frame(up), store))
      } { up.foreach(x => model(x.getLong(0)) = x) }
      // takedown from the store and both indexes
      val doomed = liveSample(TakedownDocs)
      val ids = spark.createDataFrame(doomed.map(Row(_)).asJava,
        StructType(Seq(StructField("doc_id", LongType))))
      commit("takedown", s"round$r", 0L) {
        layer("cow_delete", "sources.delete_s")(
          CorpusStore.deleteFromCorpusCow(ids, store))
        layer("lsh_delete", "operators.index_delete_s")(
          Dedup.deleteFromLshIndex(ids, "doc_id", lsh))
        layer("bm25_delete", "operators.index_delete_s")(
          Retrieval.deleteFromBm25Index(spark, ids, "doc_id", bm25))
      } { doomed.foreach { id => model.remove(id); takenDown += id } }
      probe(r)
      if (round % MaintainEvery == 0) maintain(r)
      run.sample("cycle_s", cycleS)
    }
    run.diagnostics("rounds") = round
  }

  private def probeBatch(): (DataFrame, DataFrame) = {
    val live = liveSample(ProbeDocs / 2).map(model)
    val fresh = rnd.shuffle(reserve).take(ProbeDocs - live.size)
    val rows = (live ++ fresh).map(x => Row(ProbeIdShift + x.getLong(0),
      x.getString(1), x.getString(2), x.getString(3), x.getLong(4)))
    val probes = frame(rows)
    val queries = probes.select(col("doc_id").as("qid"),
      array_join(slice(split(col("text"), " +"), 1, QueryWords), " ")
        .as("qtext"))
    (probes, queries)
  }

  private def keys(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).sorted.toSeq

  /** The last probe batch that completed, with its LSH and BM25
    * results; only content-neutral maintenance follows it in a round,
    * so the end-state check compares exactly these results.
    */
  private var lastProbe: Option[(DataFrame, DataFrame, Seq[String], Seq[String])] =
    None

  private def probe(r: Int): Unit = {
    val (probes, queries) = probeBatch()
    run.operation("probe", s"round$r") {
      val t0 = System.nanoTime()
      val (lshRows, bmRows) = run.jvmCounted {
        (layer("lsh_probe", "operators.index_probe_s")(
          Dedup.dedupAgainstLshIndex(probes, "doc_id", "text", lsh).collect()),
         layer("bm25_probe", "operators.index_probe_s")(
          Retrieval.bm25AgainstIndex(queries, "qid", "qtext", bm25, TopK)
            .collect()))
      }
      run.sample("probe_s", (System.nanoTime() - t0) / 1e9)
      Dedup.unpersistAll()
      lastProbe = Some((probes, queries, keys(lshRows), keys(bmRows)))
    }
  }

  private def maintain(r: Int): Unit =
    commit("maintain", s"round$r", 0L) {
      layer("cow_maintain", "sources.maintain_s")(
        CorpusStore.maintainCorpusCow(spark, store, MaxGenerations,
          CompactAfterDeltas))
      val next = s"$root/setup${SetupReps - 1}/lsh/g${lshGen + 1}"
      layer("lsh_compact", "operators.index_compact_s")(
        Dedup.compactLshIndex(spark, lsh, next))
      val old = lsh
      lsh = next
      lshGen += 1
      Run.deleteRecursively(spark, old)
      layer("bm25_compact", "operators.index_compact_s")(
        Retrieval.compactBm25Index(spark, bm25))
    } { run.count("sources.maintenance_cycles", 1) }

  private def rowKey(x: Row): String = x.toSeq.mkString("\u0001")

  def finish(): Map[String, Any] = {
    stream.processAllAvailable()
    stream.stop()
    val checks = mutable.LinkedHashMap[String, Any]()
    // 1. the final snapshot is founding + ingested + upserted - taken down
    val t0 = System.nanoTime()
    val snapRows = run.tracer.span("snapshot_read")(
      CorpusStore.readCorpusSnapshot(spark, store)
        .select(schema.fieldNames.map(col).toSeq: _*).collect())
    run.count("sources.snapshot_read_s", (System.nanoTime() - t0) / 1e9)
    val snap = snapRows.map(x => x.getLong(0) -> rowKey(x)).toMap
    val want = model.map { case (id, x) => id -> rowKey(x) }.toMap
    checks("snapshot_rows") = snap.size
    checks("snapshot_ok") = snap == want && snapRows.length == snap.size
    // 2. the follower emitted every committed row; collapsed per id
    // (last emission wins) it equals the store, plus the taken-down
    // ids, whose removal a change feed never emits
    val collapsed = mutable.Map[Long, String]()
    emitted.sortBy(_._1).foreach { case (_, x) => collapsed(x.getLong(0)) = rowKey(x) }
    checks("follower_ok") =
      collapsed.keySet.toSet == (want.keySet ++ takenDown) &&
        want.forall { case (id, k) => collapsed.get(id).contains(k) }
    checks("follower_rows") = emitted.size
    // 3. the last timed index probes equal the direct operators over
    // the snapshot (no probe completed: both checks fail)
    checks("lsh_probe_ok") = false
    checks("bm25_probe_ok") = false
    lastProbe.foreach { case (probes, queries, lshIdx, bmIdx) =>
      val snapDf = CorpusStore.readCorpusSnapshot(spark, store)
      val lshRef = keys(Dedup.decontaminate(snapDf, probes, "doc_id", "text")
        .collect())
      val bmRef = keys(Retrieval.bm25(snapDf, "doc_id", "text", queries,
        "qid", "qtext", TopK).collect())
      Dedup.unpersistAll()
      checks("lsh_probe_ok") = lshIdx == lshRef
      checks("lsh_probe_rows") = lshIdx.size
      checks("bm25_probe_ok") = bmIdx == bmRef
      checks("bm25_probe_rows") = bmIdx.size
    }
    // write and space amplification
    val liveBytes = model.values.map(payload).sum
    val onDisk = Seq(store, lsh, bm25).map(Run.du(spark, _)).sum
    run.diagnostics("bytes_written") = bytesWritten
    run.diagnostics("files_written") = filesWritten
    run.diagnostics("bytes_ingested") = bytesIngested
    run.diagnostics("bytes_on_disk") = onDisk
    run.diagnostics("live_bytes") = liveBytes
    run.diagnostics("live_docs") = model.size
    run.diagnostics("docs_ingested") = docsIngested
    run.count("sources.bytes_written", bytesWritten.toDouble)
    run.count("sources.files_written", filesWritten.toDouble)
    checks.toMap
  }
}

object LivingCorpus {
  // founding is the costliest set-up; two repetitions keep a run near a minute
  val SetupReps = 2
  val Founding = 1000
  val Reserve = 500
  val Buckets = 4
  val Bm25Buckets = 4
  val BatchDocs = 50
  val UpsertDocs = 20
  val TakedownDocs = 10
  val ProbeDocs = 40
  val QueryWords = 6
  val TopK = 10
  val MaintainEvery = 1
  val MaxGenerations = 8
  val CompactAfterDeltas = 4
  val ProbeIdShift = 1000000000000L
}
