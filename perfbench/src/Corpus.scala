package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{max, min}

import graft.{Engine, LifecycleBench, SparkEntry, Tables}
import graft.streaming.StreamingCuration

import PerfBench._

/** `corpus`: the LLM-pipeline operators, their persisted artifacts and
  * the native expressions. It never touches `ingest`, `sources` or
  * `Main`.
  *
  * One pass runs, in order:
  *  - query: the [[Queries]] entries of `SparkEntry.queries`;
  *  - maintain: the [[Brackets]] of `LifecycleBench.brackets` (verb, then
  *    probe, over fixtures prepared in set-up) and one
  *    `StreamingCuration.admitBatch` of the last of five doc-id batches
  *    into history seeded with the first four;
  *  - probes: the [[Probes]] expressions from SQL on their natural
  *    corpus columns.
  *
  * One operation is one of these calls. `bulk_s` is a pass's query and
  * probe time, `incremental_ms` its maintain time. Set-up prepares the
  * bracket fixtures and the admission history (three times), then runs
  * one unrecorded warm pass whose outputs are kept for the oracle checks.
  */
object Corpus {

  /** One entry per operator module; Multimodal is timed through its
    * payload-index bracket below. */
  val Queries = Seq("q01_pricing_summary", "d04_minhash_lsh", "s01_cosine_topk",
    "t13_term_topk", "c01_curation_pipeline")
  /** An IndexStore delete fold with its probe. */
  val Brackets = Seq("m18_payload_delete_probe")
  /** (probe, SQL). dot_product runs on the raw array<float> column. */
  val Probes = Seq(
    "shingle_hashes" -> "SELECT shingle_hashes(text) FROM documents",
    "minhash_sig" -> "SELECT minhash_sig(shingle_hashes(text)) FROM documents",
    "simhash64" -> "SELECT simhash64(text) FROM documents",
    "dot_product" -> "SELECT dot_product(embedding, embedding) FROM embeddings")
  val Modules = Map('q' -> "relational", 'd' -> "dedup", 's' -> "similarity",
    't' -> "textanalysis", 'm' -> "multimodal", 'c' -> "curation")
  val Tau = 0.8
  /** --seconds buys one measured pass per this many seconds (a pass
    * takes about 7 s at sf0.01 on 4 cores): three at the usual 8 s, as
    * the first after the warm pass still runs ~20% slow. */
  val SecondsPerPass = 2.5
  val Bulk = Set("query", "probe")
  val Incremental = Set("bracket", "admit")

  final case class Op(name: String, kind: String, pass: Int, seconds: Double,
                      ok: Boolean, traced: Boolean, rows: Long = -1, verbS: Double = 0.0)

  /** The admission state: the first four of five doc-id batches seeded
    * into `dir` as standing history. */
  final class Admission(c: Ctx) {
    private val s = c.spark
    import s.implicits._
    private val docs = Tables.documents(s, c.tables).select($"doc_id", $"text")
    private val (lo, hi) = {
      val r = docs.agg(min($"doc_id"), max($"doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val bounds: Seq[Long] = (0 to 5).map(i => lo + (hi - lo + 1) * i / 5)
    def batch(i: Int): DataFrame =
      docs.filter($"doc_id" >= bounds(i) && $"doc_id" < bounds(i + 1))
    val dir: String = c.dir("admit-history")
    def prepare(): Unit =
      StreamingCuration.seedHistory(docs.filter($"doc_id" < bounds(4)), dir)
    /** A fresh copy of the prepared history. */
    def fresh(): String = { val work = c.dir("admit"); copyTree(dir, work); work }
    /** Admit batch 4 into `work`. */
    def admitLast(work: String): Unit =
      StreamingCuration.admitBatch(batch(4), work, Tau, 0L)
    def cleanup(): Unit = rmTree(dir)
  }

  def run(c: Ctx): Result = {
    val s = c.spark
    Engine.registerFunctions(s)
    Tables.documents(s, c.tables).createOrReplaceTempView("documents")
    Tables.embeddings(s, c.tables).createOrReplaceTempView("embeddings")
    c.trace.recording = false

    // set-up: fixtures three times (the last set is kept), then a warm pass
    var brackets: Seq[(String, LifecycleBench.Bracket)] = Nil
    var admission: Admission = null
    val setups = (1 to c.reps).map { _ =>
      brackets.foreach(_._2.cleanup())
      if (admission != null) admission.cleanup()
      time {
        brackets = Brackets.map { n =>
          val b = LifecycleBench.brackets(n)()
          b.prepare(s, c.tables)
          n -> b
        }
        admission = new Admission(c)
        admission.prepare()
      }._2
    }
    val (probeRows, outputs) = warmPass(c, brackets, admission)

    val passes = c.passes(SecondsPerPass)
    val ops = (0 until passes).flatMap { i =>
      c.trace.recording = c.trace.on && i % 2 == 1
      pass(c, i, brackets, admission)
    }
    c.trace.recording = false
    brackets.foreach(_._2.cleanup())
    admission.cleanup()

    val untraced = ops.filterNot(_.traced)
    def passSums(kinds: Set[String], from: Seq[Op]) =
      from.groupBy(_.pass).toSeq.sortBy(_._1)
        .map(_._2.filter(o => o.ok && kinds(o.kind)).map(_.seconds).sum)
    def passSum(kinds: Set[String], from: Seq[Op]) = median(passSums(kinds, from))
    // an op returns the same row count in every pass and in the warm pass
    // (run.py counts the kept outputs; the probes are counted here)
    val rowsByOp = ops.filter(o => o.ok && o.rows >= 0).groupBy(_.name).map { case (n, os) =>
      n -> os.map(_.rows).distinct.toSeq }
    val stable = rowsByOp.forall { case (n, rs) => rs.size == 1 && probeRows.get(n).forall(_ == rs.head) }
    val checks = Seq(("corpus.rows_repeat", stable, s"row counts per op: $rowsByOp"))
    val e2e = Map(
      "bulk_s" -> passSum(Bulk, untraced),
      "incremental_ms" -> 1000 * passSum(Incremental, untraced),
      "setup_s" -> median(setups))
    val detail = Map[String, Any](
      "passes" -> passes,
      "bulk_pass_s" -> passSums(Bulk, untraced),
      "incremental_pass_s" -> passSums(Incremental, untraced),
      "corpus_query_s" -> passSum(Set("query"), untraced),
      "corpus_maintain_s" -> passSum(Incremental, untraced),
      "op_median_s" -> untraced.groupBy(_.name).map { case (n, os) =>
        n -> median(os.map(_.seconds)) },
      "failed_ops" -> ops.filterNot(_.ok).map(_.name).distinct,
      "setup_runs_s" -> setups,
      "op_rows" -> rowsByOp.map { case (n, rs) => n -> rs.head })
    val layers = if (c.trace.on) traceLayers(c, ops.filter(_.traced), untraced)
                 else Map.empty[String, Double]
    Result(attempted = ops.size, failed = ops.count(!_.ok), checks, e2e, layers,
      detail, outputs)
  }

  /** One timed pass over every operation. */
  def pass(c: Ctx, index: Int, brackets: Seq[(String, LifecycleBench.Bracket)],
           admission: Admission): Seq[Op] = {
    val s = c.spark
    val traced = c.trace.recording
    def op(name: String, kind: String)(f: => (Long, Double)): Op = {
      val (r, sec) = time(try Right(c.trace.span(name)(f)) catch { case e: Exception => Left(e) })
      graft.Scratch.drain()
      r match {
        case Right((n, verb)) => Op(name, kind, index, sec, ok = true, traced, n, verb)
        case Left(e) =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: " +
            e.getMessage.take(300))
          Op(name, kind, index, sec, ok = false, traced)
      }
    }
    val qs = Queries.map { n =>
      c.trace.label(s, Modules(n.head))
      op(n, "query")((materialize(SparkEntry.queries(n)(s, c.tables)), 0.0))
    }
    val bs = brackets.map { case (n, b) =>
      c.trace.label(s, Modules(n.head))
      b.setup()
      try op(n, "bracket") {
        val (df, verb) = time(c.trace.span(s"$n.verb")(b.attempt(s, c.tables)))
        (c.trace.span(s"$n.probe")(materialize(df)), verb)
      } finally b.teardown()
    }
    c.trace.label(s, "streaming")
    val work = admission.fresh()
    val ad = op("admit_batch", "admit") { admission.admitLast(work); (-1L, 0.0) }
    rmTree(work)
    c.trace.label(s, "functions")
    val ps = Probes.map { case (n, sql) => op(n, "probe")((materialize(s.sql(sql)), 0.0)) }
    qs ++ bs ++ Seq(ad) ++ ps
  }

  /** The unrecorded warm pass. Each output is written once as parquet
    * next to the DuckDB SQL it must equal: the entry's oracle where the
    * repository has one (a golden parquet is not one: it holds the
    * fixtures' answer), else for a bracket the output of the registered
    * entry of that name, which builds its fixture in-plan. Returns the
    * probes' row counts and name → (parquet dir, oracle SQL). */
  def warmPass(c: Ctx, brackets: Seq[(String, LifecycleBench.Bracket)],
               admission: Admission): (Map[String, Long], Map[String, (String, String)]) = {
    val s = c.spark
    import s.implicits._
    val out = c.dir("outputs")
    def keep(name: String, df: DataFrame): String = {
      df.write.parquet(s"$out/$name")
      graft.Scratch.drain()
      s"$out/$name"
    }
    def parquet(dir: String) = s"SELECT * FROM read_parquet('$dir/*.parquet')"
    val oracle = (n: String) => SparkEntry.oracleSql.get(n).filterNot(_.contains("read_parquet"))
    val checked = scala.collection.mutable.Map.empty[String, (String, String)]
    Queries.foreach { n =>
      val dir = keep(n, SparkEntry.queries(n)(s, c.tables))
      oracle(n).foreach(sql => checked(n) = (dir, sql))
    }
    brackets.foreach { case (n, b) =>
      b.setup()
      val dir = try keep(n, b.attempt(s, c.tables)) finally b.teardown()
      checked(n) = (dir, oracle(n).getOrElse(
        parquet(keep(s"ref.$n", SparkEntry.queries(n)(s, c.tables)))))
    }
    // admission: a batch-4 doc is rejected iff a smaller-id doc is an
    // exact word-3-gram Jaccard ≥ τ near-dup of it (the d03 pair oracle)
    val (lo, hi) = (admission.bounds(4), admission.bounds(5))
    val adm = admission.fresh()
    admission.admitLast(adm)
    checked("admit_batch") = (keep("admit_batch", StreamingCuration.admittedDocs(s, adm)
      .filter($"doc_id" >= lo && $"doc_id" < hi).select($"doc_id")),
      s"SELECT doc_id FROM documents WHERE doc_id >= $lo AND doc_id < $hi " +
      s"AND doc_id NOT IN (SELECT d2 FROM (${graft.operators.Dedup.d03Sql}))")
    rmTree(adm)
    val probeRows = Probes.flatMap { case (n, sql) =>
      scala.util.Try(materialize(s.sql(sql))).toOption.map(n -> _) }.toMap
    (probeRows, checked.toMap)
  }

  def traceLayers(c: Ctx, traced: Seq[Op], untraced: Seq[Op]): Map[String, Double] = {
    val byName = traced.groupBy(_.name).map { case (n, os) => n -> median(os.map(_.seconds)) }
    val verb = traced.groupBy(_.name).map { case (n, os) => n -> median(os.map(_.verbS)) }
    val ops = Queries.map(n => s"op.${n}_s" -> byName.getOrElse(n, 0.0))
    val lcs = Brackets.flatMap { n =>
      val all = byName.getOrElse(n, 0.0)
      Seq(s"lc.${n}_s" -> all, s"lc.$n.verb_s" -> verb.getOrElse(n, 0.0),
        s"lc.$n.probe_s" -> (all - verb.getOrElse(n, 0.0)))
    }
    val modules = Modules.values.toSeq.flatMap { m =>
      val t = Option(c.trace.tasks.get(m)).getOrElse(new Trace.TaskTotals)
      Seq(s"op.$m.cpu_ms" -> t.cpuNs / 1e6, s"op.$m.shuffle_bytes" -> t.shuffleBytes.toDouble,
        s"op.$m.spill_bytes" -> t.spillBytes.toDouble, s"op.$m.gc_ms" -> t.gcMs.toDouble)
    }
    val fns = Probes.map { case (n, _) => s"functions.${n}_s" -> byName.getOrElse(n, 0.0) }
    def passTotal(kinds: Set[String], os: Seq[Op]) =
      os.filter(o => o.ok && kinds(o.kind)).map(_.seconds).sum / os.map(_.pass).distinct.size
    def overhead(kinds: Set[String]) =
      100.0 * (passTotal(kinds, traced) / passTotal(kinds, untraced) - 1)
    (ops ++ lcs ++ modules ++ fns ++ Seq(
      "streaming.admit_batch_s" -> byName.getOrElse("admit_batch", 0.0),
      "trace.bulk_overhead_pct" -> overhead(Bulk),
      "trace.incremental_overhead_pct" -> overhead(Incremental))).toMap
  }
}
