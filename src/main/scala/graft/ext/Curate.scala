package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation FUNNEL — the capstone that composes
  * the stage operators this library already ships into the pipeline a
  * training-data team actually runs, with per-stage attrition counts
  * (the report every curation run publishes: how many documents each
  * gate cost). Stages, in production order:
  *
  *   1. language ID        — keep docs the n-gram classifier calls 'en'
  *   2. quality gate       — [[TextOps.quality]]'s quality_ok
  *   3. boilerplate        — drop non-keep members of shared-prefix
  *                           template groups ([[TextOps.boilerplate]])
  *   4. benchmark holdout  — drop the eval source entirely (src0)
  *   5. contamination      — drop docs with ≥50% eval-shingle overlap
  *                           ([[TextOps.contamination]])
  *   6. near-dup dedup     — keep only [[Dedup.keepList]] survivors
  *
  * Each stage's model/index is computed ONCE over the arrival corpus
  * (the production shape: the boilerplate group table, the benchmark
  * shingle set, and the dedup cluster labels are all snapshot-level
  * artifacts), and the funnel is the running conjunction — stage k's
  * count is docs passing gates 1..k. Scale: every stage is a |docs|-row
  * frame the engine already builds with one scan or one broadcast probe
  * (no stage is all-pairs); the funnel itself is ONE join-chain pass
  * over those frames and a single 7-row aggregate — at 100 TB the
  * per-doc frames are the columnar annotations a curation run persists
  * anyway, and the funnel report costs one re-scan of them, nothing
  * more. Reuses the memoized cluster labels (owner: dedup_clusters
  * family), so no dedup work is repeated. */
object Curate {

  /** Gate literals of the funnel, read by its oracle too: the kept
    * language, the contamination ceiling (percent, exclusive) and the
    * packed-sequence length of the manifest and schedule. */
  private[graft] val KeepLang = "en"
  private[graft] val MaxContamPct = 50.0
  private[graft] val PackLen = 256

  /** Per-doc gate bits (doc_id, g1..g6) — the ONE frame [[funnel]]
    * aggregates and [[gateReport]] emits row-by-row (single-sourced so
    * the two can never drift; the oracle twins share `flags` the same
    * way). */
  private def gateFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.pfxCol.as("pfx"))
    val lang = TextOps.langid(spark, dir).select("doc_id", "predicted")
    val qual = TextOps.quality(spark, dir).select("doc_id", "quality_ok")
    val bp   = TextOps.boilerplate(spark, dir).select("pfx", "keep_doc")
    val ctm  = TextOps.contamination(spark, dir).select("doc_id", "contam_pct")
    val keep = Dedup.keepList(spark, dir)
      .select(col("doc_id"), lit(1).as("kp"))
    docs
      .join(lang, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .join(bp, Seq("pfx"), "left")
      .join(ctm, Seq("doc_id"), "left")
      .join(keep, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        (col("predicted") === KeepLang).cast("int").as("g1"),
        (col("quality_ok") === 1).cast("int").as("g2"),
        (col("keep_doc").isNull || col("keep_doc") === col("doc_id"))
          .cast("int").as("g3"),
        (col("source") =!= TextOps.EvalSuites.head).cast("int").as("g4"),
        // absent from the contamination frame = no 5-gram shingles or
        // eval-source (dropped by g4 anyway) — passes the gate
        (coalesce(col("contam_pct"), lit(0.0)) < MaxContamPct).cast("int").as("g5"),
        coalesce(col("kp"), lit(0)).as("g6"))
  }

  /** Per-stage funnel counts: (stage_ord, stage, n_kept). Row 0 is the
    * arrival count; row k is the running-AND survivor count. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val flags = gateFlags(spark, dir)
    val run = (1 to 6).map(k =>
      sum((1 to k).map(j => col(s"g$j")).reduce(_ * _)).as(s"c$k"))
    val agg = flags.agg(count(lit(1)).as("c0"), run: _*)
    val stages = Seq("ingest", "langid_en", "quality", "boilerplate",
                     "holdout", "contamination", "dedup")
    agg.select(explode(array(stages.zipWithIndex.map { case (s, i) =>
        struct(lit(i).as("stage_ord"), lit(s).as("stage"),
               col(s"c$i").as("n_kept"))
      }: _*)).as("f"))
      .select(col("f.stage_ord"), col("f.stage"), col("f.n_kept"))
      .orderBy("stage_ord")
  }

  /** Per-DOCUMENT gate explain — the audit row a curation run persists
    * next to every kept/dropped doc (why did doc X fall out?): the six
    * gate bits of [[gateFlags]], the fail count, and the FIRST failing
    * stage in funnel order (the attribution rule the funnel's
    * running-AND implies — a doc dropped at langid never reaches the
    * quality gate). Same stage frames and literals as the funnel
    * (single-sourced, lockstep); |docs| rows, one join-chain pass. */
  def gateReport(spark: SparkSession, dir: String): DataFrame = {
    val stages = Seq("langid_en", "quality", "boilerplate", "holdout",
                     "contamination", "dedup")
    val firstFail = stages.zipWithIndex.foldRight(lit("pass")) {
      case ((s, i), rest) => when(col(s"g${i + 1}") === 0, s).otherwise(rest)
    }
    gateFlags(spark, dir)
      .withColumn("n_fail",
        lit(6) - (1 to 6).map(j => col(s"g$j")).reduce(_ + _))
      .withColumn("first_fail", firstFail)
      .orderBy("doc_id")
  }

  /** Training-export MANIFEST — the last table a curation run hands to
    * the training job: the fully-curated survivor set (ALL six
    * [[gateFlags]] gates pass), assigned to 32 fixed shards by the
    * Knuth-scramble hash (the corpus_shard_plan rule), with per-shard
    * doc/token counts and the packed-sequence count at the 256-token
    * context (greedy concatenate-and-chunk ⇒ ceil(tokens/256) =
    * (n_tokens+255) div 256 — the text_pack length-literal family).
    * 32 rows out at any corpus scale; non-negative ⇒ div ≡ //. */
  def trainManifest(spark: SparkSession, dir: String): DataFrame = {
    val kept = gateFlags(spark, dir)
      .filter((1 to 6).map(j => col(s"g$j") === 1).reduce(_ && _))
      .select("doc_id")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), Tokens.nTok.as("n_tok"),
              (Similarity.saltOrd(col("doc_id")) % TextOps.NumShards).cast("int").as("shard"))
    kept.join(toks, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("n_seqs", expr(s"(n_tokens + ${PackLen - 1}) div $PackLen"))
      .select("shard", "n_docs", "n_tokens", "n_seqs")
      .orderBy("shard")
  }

  /** Quality-phased CURRICULUM order (corpus_curriculum) — the training
    * SCHEDULE a curated corpus ships with: every doc gets a phase (its
    * trained per-token quality quartile, phase 0 = the highest-quality
    * quartile trained first) and a deterministic within-phase order key
    * (the Knuth scramble — a reproducible shuffle, no RNG state), plus
    * the corpus_shard_plan shard. The LOADER contract is "sort by
    * (phase, shard, order_key)": assignment here is embarrassingly
    * parallel — the spt histogram collapses the corpus to its score
    * RANGE before the one model-sized banding window (the calibration
    * discipline; never a doc-grain window), bands come back as a
    * broadcast, and every per-doc column is a projection. spt =
    * score_micro div n_tok is SIGNED → sign-split `//` in the oracle;
    * quartile rule = the exclusive-prefix rank least(3, (cum·4) div n),
    * equal scores share a phase. Lockstep: the q-chain (trainer), the
    * banding discipline (text_quality_calibration), the scramble
    * (corpus_shard_plan's % 32). */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spt = TextOps.qualityScoreTrained(spark, dir)
      .select(col("doc_id"), expr("score_micro div n_tok").as("spt"))
    val g = spt.groupBy("spt").agg(count(lit(1)).as("n_g"))
    val n = g.agg(sum("n_g").as("n"))
    val wCum = Window.orderBy("spt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bands = g
      .withColumn("cum", coalesce(sum("n_g").over(wCum), lit(0L)))
      .crossJoin(broadcast(n))
      .select(col("spt"), least(lit(3L), expr("(cum * 4) div n")).as("qband"))
    spt.join(broadcast(bands), Seq("spt"))
      .select(col("doc_id"), (lit(3L) - col("qband")).as("phase"),
              Similarity.saltOrd(col("doc_id")).as("order_key"),
              (Similarity.saltOrd(col("doc_id")) % TextOps.NumShards).cast("int").as("shard"))
      .orderBy("doc_id")
  }

  /** Phased training SCHEDULE (corpus_train_schedule) — the ONE table a
    * loader wants where [[trainManifest]] and [[curriculum]] were two:
    * the fully-curated survivor set (ALL six gates), grouped by
    * (curriculum phase, shard-plan shard), with per-group doc/token
    * counts and the 256-token packed-sequence count. Three lockstep
    * groups compose here — the gate-flags chain, the q-trainer banding,
    * and the Knuth-scramble shard — exactly the parents' rules, so
    * CurateSpec ties this table to BOTH: summed over phases it is the
    * manifest's per-shard docs/tokens; restricted per phase it is the
    * curriculum's kept-member phase census. ≤ 4·32 rows out at any
    * corpus scale; all quantities non-negative ⇒ div ≡ `//`. */
  def trainSchedule(spark: SparkSession, dir: String): DataFrame = {
    val kept = gateFlags(spark, dir)
      .filter((1 to 6).map(j => col(s"g$j") === 1).reduce(_ && _))
      .select("doc_id")
    val cur = curriculum(spark, dir).select("doc_id", "phase", "shard")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), Tokens.nTok.as("n_tok"))
    kept.join(cur, Seq("doc_id")).join(toks, Seq("doc_id"))
      .groupBy("phase", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("n_seqs", expr(s"(n_tokens + ${PackLen - 1}) div $PackLen"))
      .select("phase", "shard", "n_docs", "n_tokens", "n_seqs")
      .orderBy("phase", "shard")
  }

  /** Per-SOURCE curation dashboard — the other report a curation run
    * publishes: where the funnel says what each gate cost globally,
    * this says which ingest sources are healthy (doc/token volume,
    * language share, quality rate, near-dup rate, contamination mean)
    * — the table that decides which crawls to keep buying. Same
    * |docs|-row stage frames as [[funnel]], one groupBy(source);
    * |sources| output rows at any corpus scale. Percent ratios are
    * integer-count ratios (exact on both engines); contam_avg sums
    * 2-dp-grain doubles and rounds at 2 dp (the money-column rule). */
  def report(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), Tokens.nTok.as("n_tok"))
    val lang = TextOps.langid(spark, dir)
      .select(col("doc_id"), (col("predicted") === KeepLang).cast("long").as("is_en"))
    val qual = TextOps.quality(spark, dir)
      .select(col("doc_id"), col("quality_ok").cast("long").as("q_ok"))
    val keep = Dedup.keepList(spark, dir).select(col("doc_id"), lit(1L).as("kp"))
    val ctm = TextOps.contamination(spark, dir).select("doc_id", "contam_pct")
    docs.join(lang, Seq("doc_id")).join(qual, Seq("doc_id"))
      .join(keep, Seq("doc_id"), "left")
      .join(ctm, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tok").as("n_tokens"),
           Num.rnd(lit(100.0) * sum("is_en") / count(lit(1)), 2).as("en_pct"),
           Num.rnd(lit(100.0) * sum("q_ok") / count(lit(1)), 2).as("quality_pct"),
           Num.rnd(lit(100.0) * (count(lit(1)) - sum(coalesce(col("kp"), lit(0L))))
                     / count(lit(1)), 2).as("dup_pct"),
           Num.rnd(sum(coalesce(col("contam_pct"), lit(0.0))) / count(lit(1)), 2)
             .as("contam_avg"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_curate_funnel" -> funnel _,
    "corpus_gate_report"   -> gateReport _,
    "corpus_train_manifest" -> trainManifest _,
    "corpus_curriculum" -> curriculum _,
    "corpus_train_schedule" -> trainSchedule _,
    "corpus_report"        -> report _)
}
