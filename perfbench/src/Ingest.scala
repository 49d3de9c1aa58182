package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, concat_ws, count, countDistinct, get_json_object, lit, struct, sum, to_json, xxhash64}

import graft.Tables
import graft.ingest.{BulkAction, BulkStats, EsBulkSink, EsSimStore, FileEsBulkClient, IngestRecord}
import graft.sources.{EsSimSource, EsSimStats}

import PerfBench._

/** `ingest`: standing up a mirror index and keeping it current — the
  * job the reference exists for, as `graft.Main` wires it.
  *
  * Backfill phase (one operation per doc):
  *  1. load: events ∪ lineitem → IngestRecords, clustered on the typed
  *     cursor column, written by `EsBulkSink.write` into store A (file
  *     transport: 1024-doc files, stats sidecars, atomic publish);
  *  2. copy: `graft.Main A B ckpt --once source.batch-size=100000`.
  *
  * Follow phase: `graft.Main A B ckpt source.poll-interval=0
  * source.batch-size=10000` resumes from the backfill's checkpoint and
  * runs continuously while one open-loop generator thread calls
  * `FileEsBulkClient.bulk` on store A every 100 ms with 800 docs (8,000
  * docs/s), whatever the copy job is doing. Each doc's `ts` is its due
  * time in epoch micros; its lag runs from that due time to the publish
  * of the store-B file holding it (the epoch micros in the file name).
  * A 2 s unrecorded warm-up at the same rate precedes the window.
  *
  * Set-up is the backfill on a twentieth of the docs, three times; the
  * first holds the JVM's cold first `Main` trigger. One unrecorded
  * full-size backfill follows it before the measured passes.
  */
object Ingest {

  val CopyArgs = Seq("--once", "source.batch-size=100000")
  val FollowArgs = Seq("source.poll-interval=0", "source.batch-size=10000")
  val SetupSlice = 20
  /** --seconds buys one measured backfill pass per this many seconds
    * (a pass takes 3-5 s at sf0.04 on 4 cores): three passes at the
    * usual 8 s, whose median shrugs off a slow one. */
  val SecondsPerPass = 2.5
  val TickMs = 100
  val PerTick = 800
  val WarmTicks = 20
  val GraceMs = 15000

  // ---- backfill ----

  /** The load's input, with the cursor as a typed column; `slice` > 1
    * keeps every slice-th event and order. */
  def emitted(c: Ctx, slice: Int): DataFrame = {
    val s = c.spark
    import s.implicits._
    val ev = Tables.fanned(s, c.tables, "events")
      .filter($"event_id" % slice === 0)
      .select(lit("events").as("indexId"),
        $"event_id".cast("string").as("docId"),
        to_json(struct($"event_id", $"event_type", $"value",
          $"ts".cast("string").as("ts"),
          get_json_object($"props", "$.k").cast("int").as("k"))).as("source"),
        $"ts".as("cursor"))
    val li = Tables.fanned(s, c.tables, "lineitem")
      .filter($"l_orderkey" % slice === 0)
      .select(lit("lineitem").as("indexId"),
        concat_ws("-", $"l_orderkey", $"l_linenumber").as("docId"),
        to_json(struct($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_linenumber",
          $"l_quantity", $"l_extendedprice",
          $"l_shipdate".cast("string").as("ts"))).as("source"),
        $"l_shipdate".as("cursor"))
    ev.unionByName(li)
  }

  def clustered(c: Ctx, slice: Int): DataFrame = {
    import c.spark.implicits._
    emitted(c, slice).repartitionByRange(c.cpus, $"cursor").sortWithinPartitions($"cursor")
  }

  def records(c: Ctx, slice: Int): Dataset[IngestRecord] = {
    import c.spark.implicits._
    clustered(c, slice).select($"indexId", $"docId", $"source").as[IngestRecord]
  }

  final case class Backfill(a: String, b: String, ckpt: String, startMicros: Long,
                            loadS: Double, copyS: Double) {
    def seconds: Double = loadS + copyS
    def drop(): Unit = Seq(a, b, ckpt).foreach(rmTree)
  }

  def backfill(c: Ctx, slice: Int): Backfill = {
    val (a, b, ckpt) = (c.dir("a"), c.dir("b"), c.dir("ckpt"))
    val start = epochMicros()
    val (_, loadS) = time(c.trace.span("load")(EsBulkSink.write(records(c, slice), a)))
    val (_, copyS) = time(c.trace.span("copy")(
      graft.Main.main((Seq(a, b, ckpt) ++ CopyArgs).toArray)))
    Backfill(a, b, ckpt, start, loadS, copyS)
  }

  /** (actions, distinct ids, content digest) of an ES-sim store, parsed
    * by the source's own file parser in one Spark job. */
  def digest(c: Ctx, dir: String): (Long, Long, BigDecimal) = {
    val s = c.spark
    import s.implicits._
    val files = EsSimStats.list(dir).map(_.toString)
    val r = s.sparkContext.parallelize(files, c.cpus).flatMap { f =>
        EsSimSource.parseBulkFile(Paths.get(f), "ts", parseBody = false)
          .map(d => (d.indexId, d.docId, d.source))
      }.toDF("indexId", "docId", "source")
      .agg(count(lit(1)), countDistinct(col("indexId"), col("docId")),
        sum(xxhash64(col("indexId"), col("docId"), col("source")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }

  /** `EsSimStore.read` of a store as (docs, content digest). */
  def storeDigest(c: Ctx, dir: String): (Long, BigDecimal) = {
    val r = EsSimStore.read(c.spark, dir)
      .agg(count(lit(1)), sum(xxhash64(col("indexId"), col("docId"), col("source"))
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  // ---- follow ----

  /** `graft.Main` running continuously in its own thread. */
  final class Follower(c: Ctx, a: String, b: String, ckpt: String) {
    private val thread = new Thread(() =>
      graft.Main.main((Seq(a, b, ckpt) ++ FollowArgs).toArray), "perfbench-main")
    thread.start()
    /** Wait until B holds `n` docs or `timeoutMs` passes. */
    def awaitCopied(n: Long, timeoutMs: Long): Unit = {
      val end = System.currentTimeMillis() + timeoutMs
      while (bulkFiles(b).map(_._3).sum < n && System.currentTimeMillis() < end)
        Thread.sleep(50)
    }
    def stop(): Unit = {
      c.spark.streams.active.foreach(_.stop())
      thread.join()
    }
  }

  def doc(id: String, dueMicros: Long, rnd: java.util.Random): BulkAction = {
    val v = rnd.nextInt(50000) / 100.0
    BulkAction("follow", id,
      s"""{"id":"$id","ts":$dueMicros,"user_id":${rnd.nextInt(1500)},""" +
      s""""event_type":"click","value":$v,"k":${rnd.nextInt(100)}}""")
  }

  /** Open-loop generator: `warm` unrecorded ticks ("u" ids), then
    * `ticks` measured ones ("d" ids); returns each measured tick's
    * lateness against its due time in ms. A traced run records from
    * tick `tracedFrom` on. */
  def generate(c: Ctx, a: String, startMs: Long, warm: Int, ticks: Int,
               tracedFrom: Int): Array[Double] = {
    val rnd = new java.util.Random(c.seed)
    val client = new FileEsBulkClient(a)
    val late = new Array[Double](ticks)
    val gen = new Thread(() => (-warm until ticks).foreach { i =>
      val dueMs = startMs + i.toLong * TickMs
      val wait = dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (i == tracedFrom) c.trace.recording = true
      if (i >= 0) late(i) = (System.currentTimeMillis() - dueMs).toDouble
      val id = if (i < 0) (j: Int) => f"u${-i}%06d-$j%03d" else (j: Int) => f"d$i%06d-$j%03d"
      c.trace.span("follow.bulk")(
        client.bulk((0 until PerTick).map(j => doc(id(j), dueMs * 1000L, rnd))))
    }, "perfbench-gen")
    gen.start()
    gen.join()
    late
  }

  // ---- the workload ----

  def run(c: Ctx): Result = {
    val s = c.spark
    c.trace.recording = false

    val setupJobs = (1 to c.reps).map(_ => backfill(c, SetupSlice))
    val docs = Tables.events(s, c.tables).count() + Tables.lineitem(s, c.tables).count()
    val setups = setupJobs.map(_.seconds)
    // EsSimStore.read(B) ≡ EsSimStore.read(A) on the last set-up job (it
    // reads every file twice over, too slow for the full stores, which
    // get the action-level check below)
    val small = setupJobs.last
    val (ra, rb) = (storeDigest(c, small.a), storeDigest(c, small.b))
    setupJobs.foreach(_.drop())

    // one unrecorded full-size pass: after the twentieth-size set-up
    // jobs the first full pass still runs ~20% slow, and by a different
    // share each run
    if (!c.smoke) backfill(c, 1).drop()

    // backfill passes; the follow phase continues on the last one
    val fills = ArrayBuffer.empty[(Backfill, Boolean)]
    (0 until c.passes(SecondsPerPass)).foreach { i =>
      fills.lastOption.foreach(_._1.drop())
      c.trace.recording = c.trace.on && i % 2 == 1
      fills += ((backfill(c, 1), c.trace.recording))
    }
    c.trace.recording = false
    val fill = fills.last._1
    val fillLat = bulkFiles(fill.b).map { case (_, micros, n) =>
      ((micros - fill.startMicros) / 1000.0, n) }
    val backfillProgress = c.trace.takeProgress()

    // follow from the backfill's checkpoint
    val follower = new Follower(c, fill.a, fill.b, fill.ckpt)
    val ticks = math.max(1, (c.seconds * 1000 / TickMs).toInt)
    val warm = if (c.smoke) 0 else WarmTicks
    val startMs = System.currentTimeMillis() + 50 + warm.toLong * TickMs
    // a traced run records only the second half of the window
    val tracedFrom = if (c.trace.on) ticks / 2 else ticks
    val late = generate(c, fill.a, startMs, warm, ticks, tracedFrom)
    val sent = ticks.toLong * PerTick
    follower.awaitCopied(docs + (warm + ticks).toLong * PerTick, GraceMs)
    follower.stop()
    c.trace.recording = false
    val followProgress = c.trace.takeProgress()

    // per-doc lag from store B; generated ids never published there failed
    val seen = scala.collection.mutable.HashSet.empty[String]
    val lags = ArrayBuffer.empty[(Double, Boolean)]
    EsSimStats.list(fill.b).foreach { p =>
      val pub = publishMicros(p)
      EsSimSource.parseBulkFile(p, "ts").foreach { d =>
        if (d.indexId == "follow" && d.docId.startsWith("d") && seen.add(d.docId)) {
          val tick = d.docId.substring(1, 7).toInt
          lags += (((pub - d.tsMicros) / 1000.0, tick >= tracedFrom))
        }
      }
    }
    val missing = sent - seen.size
    val untracedLag = lags.collect { case (l, false) => l }

    // B holds exactly A's actions: the backfill's docs and every follow doc
    val (da, db) = (digest(c, fill.a), digest(c, fill.b))
    val total = docs + (warm + ticks).toLong * PerTick
    val checks = Seq(
      ("ingest.load_count", da._1 == total && da._2 == total,
        s"A holds ${da._1} actions, ${da._2} ids, of $total docs"),
      ("ingest.b_equals_a", da == db, s"A=$da B=$db"),
      ("ingest.store_read_equal", ra == rb && ra._1 > 0,
        s"EsSimStore.read(B) == EsSimStore.read(A) on the set-up job (${ra._1} docs)"),
      ("ingest.follow_ids_in_b", missing == 0, s"${seen.size} of $sent generated ids in B"))

    val untracedFill = fills.collect { case (f, false) => f }
    val e2e = Map(
      "bulk_s" -> median(untracedFill.map(_.seconds)),
      "incremental_ms" -> median(untracedLag),
      "setup_s" -> median(setups))
    val detail = Map[String, Any](
      "docs" -> docs,
      "load_docs_per_s" -> median(untracedFill.map(docs / _.loadS)),
      "copy_docs_per_s" -> median(untracedFill.map(docs / _.copyS)),
      "load_s" -> untracedFill.map(_.loadS),
      "copy_s" -> untracedFill.map(_.copyS),
      "backfill_latency_p50_ms" -> weightedQuantile(fillLat, 0.5),
      "backfill_latency_p90_ms" -> weightedQuantile(fillLat, 0.9),
      "follow_lag_p50_ms" -> median(untracedLag),
      "follow_lag_p90_ms" -> quantile(untracedLag, 0.9),
      "follow_docs_sent" -> sent,
      "follow_gen_late_p99_ms" -> quantile(late.toSeq, 0.99),
      "setup_runs_s" -> setups,
      "setup_cold_s" -> setups.head)
    val layers =
      if (!c.trace.on) Map.empty[String, Double]
      else {
        c.trace.recording = true
        val tracedLag = lags.collect { case (l, true) => l }
        val tracedFill = fills.collect { case (f, true) => f }
        val out = Layers.main("backfill", backfillProgress) ++
          Layers.main("follow", followProgress) ++
          Layers.store(c, fill.a, fill.b) ++ loadCuts(c) ++ Map(
          "follow.gen_late_ms" -> quantile(late.toSeq, 0.99),
          "follow.source_files" -> EsSimStats.list(fill.a).size.toDouble,
          "follow.sink_files" -> EsSimStats.list(fill.b).size.toDouble,
          "trace.bulk_overhead_pct" -> 100.0 * (median(tracedFill.map(_.seconds)) /
            median(untracedFill.map(_.seconds)) - 1),
          "trace.incremental_overhead_pct" -> 100.0 * (median(tracedLag) /
            median(untracedLag) - 1))
        c.trace.recording = false
        out
      }
    fill.drop()
    // every doc written to A is an operation; one not in B failed
    Result(attempted = total, failed = math.max(0L, total - db._2), checks, e2e, layers,
      detail)
  }

  /** Cumulative cuts of the load, each materialized on its own:
    * scan → + emit → + cluster → + encode → + publish. */
  def loadCuts(c: Ctx): Map[String, Double] = c.trace.span("load_cuts") {
    val s = c.spark
    import s.implicits._
    val scan = Tables.fanned(s, c.tables, "events").select($"event_id", $"event_type",
        $"value", $"ts", $"props")
      .unionByName(Tables.fanned(s, c.tables, "lineitem").select($"l_orderkey",
        $"l_partkey", $"l_suppkey", $"l_linenumber", $"l_quantity", $"l_extendedprice",
        $"l_shipdate"), allowMissingColumns = true)
    val dir = c.dir("cut")
    val cuts = Seq[(String, () => Any)](
      "scan" -> (() => materialize(scan)),
      "emit" -> (() => materialize(emitted(c, 1))),
      "cluster" -> (() => materialize(clustered(c, 1))),
      "encode" -> (() => records(c, 1).foreachPartition((it: Iterator[IngestRecord]) =>
        it.foreach(_ => ()))),
      "publish" -> (() => EsBulkSink.write(records(c, 1), dir)))
    val out = cuts.map { case (n, f) =>
      s"ingest.load.${n}_s" -> c.trace.span(s"load.$n")(time(f())._2) }.toMap
    rmTree(dir)
    out
  }
}

/** The `Main` trigger split from recorded query progress, and replays
  * of the source and sink calls over the run's stores. */
object Layers {
  import org.apache.spark.sql.streaming.StreamingQueryProgress

  val TriggerKeys = Seq("triggerExecution" -> "trigger", "latestOffset" -> "latestOffset",
    "queryPlanning" -> "queryPlanning", "addBatch" -> "addBatch",
    "walCommit" -> "walCommit", "commitOffsets" -> "commitOffsets")

  /** Per-trigger medians over the micro-batches that read rows. */
  def main(phase: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] =
    if (ps.isEmpty) Map.empty
    else TriggerKeys.map { case (k, n) =>
      s"$phase.main.${n}_ms" -> median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    }.toMap ++ Map(
      s"$phase.main.batches" -> ps.size.toDouble,
      s"$phase.main.rows_per_batch" -> median(ps.map(_.numInputRows.toDouble)))

  /** `src` is the store `Main` read, `dst` the one it wrote. */
  def store(c: Ctx, src: String, dst: String): Map[String, Double] = c.trace.span("replay") {
    val reps = 5
    val listMs = median((1 to reps).map(_ => c.trace.span("sources.list")(
      time(EsSimStats.list(src))._2 * 1000)))
    val planMs = median((1 to reps).map(_ => c.trace.span("sources.plan")(
      time(EsSimStats.forVisible(src, "ts"))._2 * 1000)))
    val files = EsSimStats.list(src)
    val (docs, parseS) = time(c.trace.span("sources.parse")(
      files.flatMap(f => EsSimSource.parseBulkFile(f, "ts"))))
    val actions = docs.map(d => BulkAction(d.indexId, d.docId, d.source)).grouped(1024).toSeq
    val scratch = Paths.get(c.dir("replay"))
    val sidecarS = time(c.trace.span("ingest.sidecar")(actions.zipWithIndex.foreach {
      case (g, i) =>
        BulkStats.write(scratch.resolve(s"bulk-$i.ndjson"), BulkStats.compute("ts",
          g.iterator.map(a => (a.indexId, a.docId, BulkStats.tsOf(a.source, "ts")))))
    }))._2
    val client = new FileEsBulkClient(scratch.resolve("bulk").toString)
    val bulkS = time(c.trace.span("ingest.bulk_write")(actions.foreach(client.bulk)))._2
    rmTree(scratch.toString)
    val out = bulkFiles(dst)
    Map(
      "sources.list_ms" -> listMs, "sources.plan_ms" -> planMs,
      "sources.parse_s" -> parseS, "sources.files" -> files.size.toDouble,
      "ingest.sidecar_s" -> sidecarS, "ingest.bulk_write_s" -> bulkS,
      "ingest.files" -> out.size.toDouble,
      "ingest.bytes" -> out.map(f => Files.size(f._1)).sum.toDouble)
  }
}
