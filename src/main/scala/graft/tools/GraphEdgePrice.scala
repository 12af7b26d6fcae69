package graft.tools

import org.apache.spark.sql.functions._

/** Prices the SPLIT-served mutual-kNN edge frame against the audited
  * unsplit one for the graph family (round-17 verdict item 6): the
  * graph_* consumers deliberately ride the `knnmutual` memo while
  * `knnmutualsplit` measured 425 vs 628 s task CPU at 768 k — a
  * quality-vs-cost trade this tool quantifies so the keep-or-switch
  * decision is a measurement, not a guess. Reports, as ONE JSON line:
  * build wall seconds per edge set, edge counts + overlap, and the
  * downstream connected-component labels' node-level agreement (both
  * label sets are min-reachable vec_id over the SAME CC loop —
  * Graph.connectedComponents — so equal labels mean equal components).
  *
  * Usage: scripts/run_main.sh graft.tools.GraphEdgePrice <dir>
  * Scale-measurement tool (knee dirs) — not an oracle query.
  */
object GraphEdgePrice {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Sessions.local()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (e1, w1) = timed {
      graft.ext.Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    }
    val n1 = e1.count()
    val (e2, w2) = timed {
      graft.ext.Similarity.knnMutualSplit(spark, dir).select("a_id", "b_id")
    }
    val n2 = e2.count()
    // partition balance of the two memoized edge frames (the round-19
    // CC-wall attribution: a skewed persisted input charges a straggler
    // per stage per round) — (n_parts, max_partition_rows)
    def partStats(df: org.apache.spark.sql.DataFrame): (Int, Long) = {
      val counts = df.rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect()
      (counts.length, if (counts.isEmpty) 0L else counts.max)
    }
    val (p1, pm1) = partStats(e1)
    val (p2, pm2) = partStats(e2)
    val overlap = e1.join(e2, Seq("a_id", "b_id")).count()
    // per-CC-phase task metrics (VERDICT r18 item 5: the 768 k
    // split-edge CC wall read 2.2× the unsplit one — decompose it into
    // per-phase shuffle and task time instead of guessing)
    val metrics = new graft.BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    def runCc(e: org.apache.spark.sql.DataFrame) = {
      val b = metrics.snapshot(spark.sparkContext)
      val (c, wc) = timed {
        graft.ext.Graph.connectedComponents(
          graft.Tables.embeddings(spark, dir).select("vec_id"), e, "vec_id", "comp")
          .localCheckpoint()
      }
      (c, wc, metrics.delta(spark.sparkContext, b))
    }
    val (c1, wc1, m1) = runCc(e1)
    val (c2, wc2, m2) = runCc(e2)
    def mj(m: Map[String, Long]): String =
      s"""{"n_tasks":${m("n_tasks")},"task_ms":${m("task_ms")},""" +
      s""""shuffle_read_b":${m("shuffle_read_b")},""" +
      s""""shuffle_write_b":${m("shuffle_write_b")},""" +
      s""""mem_spill_b":${m("mem_spill_b")},""" +
      s""""disk_spill_b":${m("disk_spill_b")},"gc_ms":${m("gc_ms")}}"""
    val joined = c1.withColumnRenamed("comp", "c1")
      .join(c2.withColumnRenamed("comp", "c2"), Seq("vec_id"))
    val nodes = joined.count()
    val agree = joined.filter(col("c1") === col("c2")).count()
    // giant-component sizes: the pointer-jump parent join keys on the
    // LABEL, so a larger giant component concentrates more rows on one
    // join key per round — the skew candidate for the CC-wall gap
    def giant(c: org.apache.spark.sql.DataFrame): Long =
      c.groupBy("comp").count().agg(max("count")).collect()(0).getLong(0)
    val g1 = giant(c1); val g2 = giant(c2)
    println(
      s"""{"dir":"$dir","edges_unsplit":$n1,"edges_split":$n2,""" +
      s""""overlap":$overlap,"build_s_unsplit":${w1.round},""" +
      s""""build_s_split":${w2.round},"cc_s_unsplit":${wc1.round},""" +
      s""""cc_s_split":${wc2.round},"nodes":$nodes,""" +
      s""""label_agree":$agree,""" +
      s""""label_agree_micro":${if (nodes == 0) 0 else agree * 1000000L / nodes},""" +
      s""""giant_comp_unsplit":$g1,"giant_comp_split":$g2,""" +
      s""""parts_unsplit":$p1,"max_part_rows_unsplit":$pm1,""" +
      s""""parts_split":$p2,"max_part_rows_split":$pm2,""" +
      s""""cc_metrics_unsplit":${mj(m1)},"cc_metrics_split":${mj(m2)}}""")
    spark.stop()
  }
}
