package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: runs one workload (`ingest` or `corpus`)
  * against tables generated by `gen.py`, and writes its result as one
  * JSON object.
  *
  * Usage: perfbench.PerfBench <workload> <seed> <seconds> <trace 0|1> <tablesDir>
  *          <workDir> <resultFile> <scale: full|smoke>
  *
  * `run.py` builds this, generates the tables, starts the JVM and turns
  * the result into the benchmark's headline line.
  */
object PerfBench {

  /** What a workload reports back. `e2e` holds the end-to-end metrics,
    * `layers` the per-layer ones (traced run only), `detail` anything
    * else worth keeping; `outputs` maps check names to parquet results
    * that `run.py` compares against the DuckDB oracle. */
  final case class Result(
      attempted: Long, failed: Long, checks: Seq[(String, Boolean, String)],
      e2e: Map[String, Double], layers: Map[String, Double],
      detail: Map[String, Any], outputs: Map[String, (String, String)] = Map.empty)

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Trace,
      tables: String, work: Path, smoke: Boolean) {
    def cpus: Int = spark.sparkContext.defaultParallelism
    /** Set-up repetitions: the median of three; the smoke run does one. */
    def reps: Int = if (smoke) 1 else 3
    /** Measured passes: one per `secondsPerPass` of the run's seconds,
      * a fixed count, so every run samples the same stretch of the JIT
      * warm-up curve; a traced run alternates untraced and traced passes
      * and needs at least two. */
    def passes(secondsPerPass: Double): Int =
      if (smoke) (if (trace.on) 2 else 1)
      else math.max(if (trace.on) 2 else 1, math.round(seconds / secondsPerPass).toInt)
    /** A fresh directory under the run's work dir. */
    def dir(name: String): String = Files.createTempDirectory(work, name + "-").toString
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, tables, work, out, scale) = args
    val t0 = System.nanoTime()
    val workDir = Paths.get(work)
    Files.createDirectories(workDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cpus]")
      // the same session settings graft.Main applies to its own session
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Trace(trace == "1")
    tr.attach(spark)
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, tr, tables, workDir, scale == "smoke")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val r = workload match {
      case "ingest" => Ingest.run(ctx)
      case "corpus" => Corpus.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val peakRssMb = PeakRss.mb()
    if (tr.on) tr.writeSpans(Paths.get(out + ".spans.jsonl"))
    val rt = Runtime.getRuntime
    val box = Map[String, Any](
      "nproc" -> rt.availableProcessors,
      "spark_graft_cpus" -> cpus.toInt,
      "max_heap_mb" -> rt.maxMemory / (1 << 20),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val doc = Map[String, Any](
      "workload" -> workload,
      "trace" -> tr.on,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "checks" -> r.checks.map { case (n, ok, why) =>
        Map("name" -> n, "ok" -> ok, "detail" -> why) },
      "e2e" -> r.e2e,
      "layers" -> r.layers,
      "detail" -> (r.detail ++ Map("session_s" -> sessionS, "box" -> box,
        "peak_rss_mb" -> peakRssMb)),
      "outputs" -> r.outputs.map { case (n, (dir, sql)) =>
        n -> Map("dir" -> dir, "oracle" -> sql) })
    Files.write(Paths.get(out), Json.of(doc).getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }

  // ---- helpers shared by the workloads ----

  /** `f`'s value and its wall seconds. */
  def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val v = f; (v, (System.nanoTime() - t) / 1e9)
  }

  /** Run a frame's whole plan without collecting it (the repo's bench
    * protocol: count() would let Catalyst prune the projection). */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Weighted quantile over (value, weight) pairs: the value below which
    * a share q of the total weight lies. */
  def weightedQuantile(xs: collection.Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    require(s.nonEmpty, "quantile of no values")
    val target = q * s.map(_._2).sum
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.getOrElse(s.last)._1
  }

  def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }

  def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src); val to = Paths.get(dst)
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  /** Bulk files of an ES-sim index dir with their publish micros (the
    * epoch-micros stamp in the file name) and doc count (stats sidecar). */
  def bulkFiles(dir: String): Seq[(Path, Long, Long)] =
    graft.sources.EsSimStats.list(dir).map { p =>
      (p, publishMicros(p), graft.ingest.BulkStats.read(p, "ts").fold(0L)(_.count))
    }

  def publishMicros(bulkFile: Path): Long =
    bulkFile.getFileName.toString.stripPrefix("bulk-").take(20).toLong
}

/** Peak resident set size of this JVM: the kernel's high-water mark. */
object PeakRss {
  def mb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** Result-file JSON, written with the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def of(v: Any): String = mapper.writeValueAsString(v)
}
