package graft

import org.apache.spark.sql.DataFrame
import graft.ext.Similarity

/** The eval family's one recall fold (`Similarity.recallFold`) and its
  * micro ratio (`ops.Num.micro`), driven on synthetic frames at the
  * edges every eval query can reach, plus the output schema of every
  * eval query built on them, pinned at sf0.01. */
class RecallFoldSpec extends SparkSpec {
  import spark.implicits._

  private val sf001 = sf0001.replace("sf0.001", "sf0.01")

  private def pairs(ps: (Long, Long)*): DataFrame =
    ps.toDF("a_id", "b_id")

  private def row(df: DataFrame): Map[String, Any] = {
    val r = df.collect()
    assert(r.length === 1, s"the fold must return one row, got ${r.length}")
    df.columns.zip(r.head.toSeq).toMap
  }

  test("a partial hit: recall = hits / truth, precision = hits / screen") {
    val r = row(Similarity.recallFold(
      pairs(1L -> 2L, 1L -> 3L, 2L -> 1L), pairs(1L -> 2L, 2L -> 5L)))
    assert(r === Map("n_truth" -> 3L, "n_screen" -> 2L, "n_hit" -> 1L,
      "recall_micro" -> 333333L, "precision_micro" -> 500000L))
  }

  test("an empty truth reads full recall (1e6); an empty screen reads 0 precision") {
    val emptyTruth = row(Similarity.recallFold(pairs(), pairs(1L -> 2L)))
    assert(emptyTruth("n_truth") === 0L)
    assert(emptyTruth("recall_micro") === 1000000L)
    assert(emptyTruth("precision_micro") === 0L)
    val emptyScreen = row(Similarity.recallFold(pairs(1L -> 2L), pairs()))
    assert(emptyScreen("n_screen") === 0L)
    assert(emptyScreen("recall_micro") === 0L)
    assert(emptyScreen("precision_micro") === 0L)
  }

  test("shape parameters: screen count name, recall-only row, leading counts") {
    val truth = pairs(1L -> 2L, 1L -> 3L)
    val screen = pairs(1L -> 2L)
    val dedupShape = Similarity.recallFold(truth, screen, screenCount = Some("n_cand"))
    assert(dedupShape.columns.toSeq ===
      Seq("n_truth", "n_cand", "n_hit", "recall_micro", "precision_micro"))
    assert(row(dedupShape)("precision_micro") === 1000000L)
    val recallOnly = Similarity.recallFold(truth, screen, screenCount = None)
    assert(row(recallOnly) ===
      Map("n_truth" -> 2L, "n_hit" -> 1L, "recall_micro" -> 500000L))
    val led = Similarity.recallFold(truth, screen,
      lead = Seq(pairs(1L -> 2L, 1L -> 3L, 1L -> 4L) -> "n_cand"))
    assert(led.columns.toSeq === Seq("n_cand", "n_truth", "n_screen", "n_hit",
      "recall_micro", "precision_micro"))
    assert(row(led)("n_cand") === 3L)
  }

  test("Num.micro: exact integer division, ifZero on a zero denominator") {
    val df = Seq((1L, 3L), (2L, 0L), (0L, 0L)).toDF("num", "den")
    val got = df.select(ops.Num.micro("num", "den", 0L),
                        ops.Num.micro("num", "den", 1000000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((333333L, 333333L), (0L, 1000000L), (0L, 1000000L)))
  }

  test("dedup_semantic_eval's precision is 1e6 when nothing is dropped") {
    val sem = Seq((1L, 1), (2L, 1), (3L, 1)).toDF("vec_id", "keep")
    val truth = Seq(2L).toDF("a_id")
    assert(row(Similarity.dedupDecisionEval(sem, truth)) === Map(
      "n_probes" -> 3L, "n_truth" -> 1L, "n_pred" -> 0L, "n_hit" -> 0L,
      "recall_micro" -> 0L, "precision_micro" -> 1000000L))
    val dropped = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "keep")
    assert(row(Similarity.dedupDecisionEval(dropped, truth)) === Map(
      "n_probes" -> 3L, "n_truth" -> 1L, "n_pred" -> 2L, "n_hit" -> 1L,
      "recall_micro" -> 1000000L, "precision_micro" -> 500000L))
  }

  // (name, type, nullable) per column, as the eval queries produced them
  // before they shared the fold
  private val counts3 = Seq(("n_truth", "bigint", false),
    ("n_screen", "bigint", false), ("n_hit", "bigint", false),
    ("recall_micro", "bigint", true), ("precision_micro", "bigint", true))
  private val recallOnly = Seq(("n_truth", "bigint", false),
    ("n_hit", "bigint", false), ("recall_micro", "bigint", true))
  private val evalSchemas: Seq[(String, Seq[(String, String, Boolean)])] = Seq(
    "sim_ivf_recall_eval" -> counts3,
    "sim_split_recall_eval" -> counts3,
    "sim_split_deep_recall_eval" -> counts3,
    "sim_split_band_recall_eval" -> counts3,
    "sim_trained_recall_eval" -> counts3,
    "sim_split_trained_recall_eval" -> counts3,
    "sim_filtered_recall" -> counts3,
    "emb_sign_recall" -> counts3,
    "sim_rrf_recall" -> counts3,
    "emb_int8_recall" -> recallOnly,
    "sim_graph_search_eval" -> recallOnly,
    "sim_jl_recall" -> recallOnly,
    "emb_matryoshka_recall" -> recallOnly,
    "sim_nn_descent_eval" -> Seq(("n_truth", "bigint", false),
      ("n_hit_base", "bigint", false), ("n_hit_ref", "bigint", false),
      ("recall_base_micro", "bigint", true), ("recall_ref_micro", "bigint", true)),
    "dedup_semantic_eval" -> Seq(("n_probes", "bigint", false),
      ("n_truth", "bigint", false), ("n_pred", "bigint", false),
      ("n_hit", "bigint", false), ("recall_micro", "bigint", true),
      ("precision_micro", "bigint", true)),
    "sim_nprobe_sweep" -> Seq(("nprobe", "int", false),
      ("n_cand", "bigint", false), ("n_truth", "bigint", false),
      ("n_screen", "bigint", false), ("n_hit", "bigint", false),
      ("recall_micro", "bigint", true)),
    "sim_recall_at_k" -> (("k", "int", false) +: counts3),
    "sim_eval_frontier" -> (("method", "string", false) +: recallOnly),
    "sim_split_band_sweep" -> Seq(("margin_micro", "bigint", false),
      ("n_cand", "bigint", false), ("n_truth", "bigint", false),
      ("n_screen", "bigint", false), ("n_hit", "bigint", false),
      ("recall_micro", "bigint", true)),
    "dedup_minhash_eval" -> Seq(("n_truth", "bigint", false),
      ("n_cand", "bigint", false), ("n_hit", "bigint", false),
      ("recall_micro", "bigint", true), ("precision_micro", "bigint", true)),
    "dedup_band_sweep" -> Seq(("n_bands", "int", false),
      ("rows_per_band", "int", false), ("n_truth", "bigint", false),
      ("n_cand", "bigint", false), ("n_hit", "bigint", false),
      ("recall_micro", "bigint", true), ("precision_micro", "bigint", true)))

  test("every eval query keeps its output schema at sf0.01") {
    evalSchemas.foreach { case (name, want) =>
      val got = SparkEntry.queries(name)(spark, sf001).schema
        .fields.map(f => (f.name, f.dataType.simpleString, f.nullable)).toSeq
      assert(got === want, s"$name schema drifted")
    }
  }
}
