package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the purchase graph (customer ↔ supplier edges
  * derived from `orders` ⋈ `lineitem` — the entity-relationship shape
  * the reference's star schema implies but never analyzes; its Athena
  * layer stops at joins/aggregations, `/root/reference/README.md:28-31`).
  * Complements
  * the connected components both families share ([[connectedComponents]],
  * behind `Dedup.clusters` and [[components]]) with an
  * ITERATIVE VALUE computation: Pregel-style rounds expressed as
  * join + aggregate, the shape GraphX/Pregel lowers to.
  *
  * Everything is INTEGER arithmetic in micro-units: per-round
  * contributions are `rank div deg` (floor), the damping update is
  * `(85 * Σ) div 100` — no doubles anywhere, so results are exactly
  * reproducible across engines, partitionings, and reruns, and the
  * DuckDB oracle unrolls the identical rounds as CTEs.
  */
object Graph {

  /** Undirected bipartite purchase graph as a directed edge list (both
    * directions), nodes tagged 'c'/'s' so key spaces can't collide.
    * One fact-fact join + distinct — both shuffles on the join key. */
  private def edgesOf(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    // LONG node ids END-TO-END (round 20, extending the round-19
    // int-keyed distinct): customer ↔ even (2·custkey), supplier ↔ odd
    // (2·suppkey+1) — bijective for the non-negative TPC-H keys — so
    // the distinct, the bucketed edge table, the degree frame, and
    // every rank round's exchange/sort carry 8-byte fixed keys; the
    // 'c…'/'s…' node STRINGS the oracle checks are built exactly once
    // per |nodes| row at [[pagerank]]'s output projection
    // ([[nodeString]]).
    val cs = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct()
      .select((col("o_custkey").cast("long") * 2).as("c"),
              (col("l_suppkey").cast("long") * 2 + 1).as("s"))
    cs.select(col("c").as("src"), col("s").as("dst"))
      .union(cs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The long node id back to the oracle's node string — 'c'+custkey
    * for even ids, 's'+suppkey for odd (the [[edgesOf]] bijection
    * inverted; shiftright ≡ div 2 on the non-negative ids). */
  private def nodeString(n: Column): Column =
    when(n.bitwiseAND(lit(1L)) === 0L,
      concat(lit("c"), shiftright(n, 1).cast("string")))
      .otherwise(concat(lit("s"), shiftright(n, 1).cast("string")))

  /** Edge list with the source's degree pre-attached, materialized ONCE
    * per (session, dir) — each rank round then needs exactly ONE join
    * (edges ⋈ ranks) instead of edges ⋈ ranks ⋈ degrees, and the
    * fact-fact build join + distinct runs exactly once (its temporary
    * checkpoint is freed as soon as the degree-joined frame lands, per
    * the unpersist-big-intermediates rule).
    *
    * CO-PARTITIONED: written as a parquet table BUCKETED BY `src` (one
    * file per bucket via the matching repartition — bucket id and
    * repartition both hash with Murmur3 pmod n, so each write task
    * holds exactly one bucket, which also preserves the per-bucket
    * `sortBy` order). Every rank round's edges ⋈ ranks join then reads
    * HashPartitioning(src, n) straight off the scan and only the
    * |nodes|-row rank side shuffles — the Pregel ideal where the edge
    * set never moves and per-round network is rank deltas only. A
    * localCheckpoint can't do this (LogicalRDD surfaces
    * UnknownPartitioning — measured, see PlanShapeSpec), so this is
    * the one memo that goes through a bucketed table; the scan is
    * intentionally NOT persisted/cached — InMemoryRelation over the
    * bucketed scan measured 2.3× task CPU vs re-reading the local
    * parquet (BASELINE.md round 9), so rounds re-scan the bucket files
    * directly. At 100 TB
    * this is exactly the durable bucketed edge table a production graph
    * pipeline maintains. Eager-memoized like the dedup pair frames
    * (NOT in PlanShapeSpec's laziness allowlist; Bench owner:
    * graph_pagerank). */
  private def edgesCkpt(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "graphedges"), {
      val raw = edgesOf(spark, dir).localCheckpoint()
      // the degree frame the bucketed write joins IS the node list
      // [[degCkpt]] serves — memoize it here (|nodes| rows, one agg over
      // the checkpointed raw edges) instead of re-deriving it later by a
      // full scan + distinct over the written table (StageProfile r19:
      // that scan was 12 s run / 8 s cpu of pagerank's 86 s)
      val deg = CkptMemo.getOrElseUpdate((spark, dir, "graphdeg"),
        raw.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint())
      val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val tbl = "graft_graph_edges_" +
        java.lang.Long.toHexString(System.nanoTime())
      val path = java.nio.file.Files.createTempDirectory("graft-graph-edges")
      // The catalog entry dies with the in-memory metastore, but the
      // parquet files would outlive the JVM — reap them at shutdown so
      // repeated Verify/Bench/test runs don't accumulate edge-table
      // copies under /tmp.
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(path).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        catch { case _: Exception => () }
      }))
      raw.join(deg, Seq("src"))
        .repartition(n, col("src"))
        .write.bucketBy(n, "src").sortBy("src")
        .option("path", path.toString).mode("overwrite").saveAsTable(tbl)
      org.apache.spark.sql.GraftSql.checkpointRdd(raw)
        .foreach(_.unpersist(false))
      spark.table(tbl)
    })

  /** Degree frame = the node list (|nodes| rows, one per src) —
    * memoized during the [[edgesCkpt]] build (the same aggregation the
    * bucketed write joins); building the edge table first guarantees a
    * hit, and the fallback body (scan + distinct over the table) only
    * exists for the impossible memo-evicted-between-calls corner. */
  private def degCkpt(spark: SparkSession, dir: String): DataFrame = {
    edgesCkpt(spark, dir) // populates the "graphdeg" memo as a side effect
    CkptMemo.getOrElseUpdate((spark, dir, "graphdeg"),
      edgesCkpt(spark, dir).select(col("src"), col("deg")).distinct()
        .localCheckpoint())
  }

  /** Fixed-round PageRank (damping 0.85, 3 rounds — the constant is
    * mirrored by the oracle's unrolled CTEs; keep in lockstep). Each
    * round is one shuffle join of the edge list with the rank frame on
    * `src` plus one aggregation by `dst` — rank state is |nodes| rows,
    * edges never rewrite. At 100 TB this is the exact Pregel superstep
    * shape: co-partition edges and ranks on the join key and the
    * per-round shuffle moves only rank deltas. Isolated nodes don't
    * exist by construction (every node comes from an edge), so the
    * LEFT join + coalesce(0) only guards rounding-starved corners. */
  def pagerank(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val edges = edgesCkpt(spark, dir) // (src, dst, deg) — deg pre-attached
    val nodes = degCkpt(spark, dir).select(col("src").as("node"), col("deg"))
    var r = nodes.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to rounds) {
      val contrib = edges
        .join(r, edges("src") === r("node"))
        .select(col("dst").as("node"), expr("r div deg").as("ct"))
        .groupBy("node").agg(sum("ct").as("c"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
                (lit(150000L) + expr("(85 * coalesce(c, 0)) div 100")).as("r"))
    }
    nodes.join(r, Seq("node"))
      .select(nodeString(col("node")).as("node"), col("deg"),
              col("r").as("rank_micro"))
  }

  /** Triangle enumeration over the mutual-kNN similarity graph
    * ([[Similarity.knnMutual]]) via DEGREE ORIENTATION — the shape that
    * makes triangle counting linear-ish at scale: orient every
    * undirected edge from its lower-(deg, id) endpoint to its higher
    * one, enumerate wedges only among a node's OUT-neighbors, and close
    * each wedge against the undirected edge set. Out-degrees are
    * bounded by √|E| under orientation regardless of skew (a
    * 10⁶-degree hub contributes no wedges — its edges all point INTO
    * it), so the wedge stage never goes quadratic in a hub's degree;
    * the closing join is |wedges| rows against |E|. Each triangle
    * surfaces exactly once: its (deg,id)-minimal vertex is the only one
    * with oriented edges to both others. The purchase graph is
    * bipartite (zero triangles by construction), so this runs on the
    * embedding-neighborhood graph, where triangles are the
    * mutually-similar triples a SemDeDup-style cluster pass cares
    * about. Output is the sorted (x<y<z) triple list; the middle vertex
    * recovered as sum−min−max (pure integer). */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val o = und
      .join(dg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(dg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .filter(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")))
      .select("u", "v")
    val wed = o.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("apex"), col("e1.v").as("x"), col("e2.v").as("y"))
    wed.join(mu, mu("a_id") === least(col("x"), col("y")) &&
                 mu("b_id") === greatest(col("x"), col("y")))
      .select(least(col("apex"), col("x"), col("y")).as("x_id"),
              (col("apex") + col("x") + col("y") -
                least(col("apex"), col("x"), col("y")) -
                greatest(col("apex"), col("x"), col("y"))).as("y_id"),
              greatest(col("apex"), col("x"), col("y")).as("z_id"))
  }

  /** Local clustering coefficient per node over the mutual-kNN graph —
    * the standard "how clique-like is this neighborhood" diagnostic
    * (Watts–Strogatz): cc(u) = 2·T(u) / (deg(u)·(deg(u)−1)), where
    * T(u) counts triangles through u. High-cc neighborhoods are the
    * tight near-dup communities a SemDeDup-style pass collapses;
    * low-cc hubs are the bridge artifacts mutuality was meant to
    * suppress — this puts a per-node number on the distinction.
    * ALL-INTEGER in micro-units: (2·T·10⁶) div (deg·(deg−1)), degrees
    * positive so floor division is engine-agnostic. T(u) comes from
    * closing each neighbor wedge (x, y) of u against the undirected
    * edge set — wedge volume ≤ k²·|V| on the degree-bounded mutual
    * graph (the [[commonNeighbors]] argument), closing join is
    * |wedges| vs |E|. Every node with an edge appears; deg-1 nodes get
    * cc 0 (no wedge exists). */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val wed = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
    val tri = wed.join(mu, mu("a_id") === col("x") && mu("b_id") === col("y"))
      .groupBy("u").agg(count(lit(1)).as("n_tri"))
    dg.join(tri, Seq("u"), "left")
      .select(col("u").as("vec_id"), col("deg"),
              coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_micro",
        expr("CASE WHEN deg < 2 THEN CAST(0 AS BIGINT) " +
             "ELSE (2 * n_tri * CAST(1000000 AS BIGINT)) div (deg * (deg - 1)) END"))
      .orderBy("vec_id")
  }

  /** Degree assortativity of the mutual-kNN graph (Newman 2002): the
    * Pearson correlation of endpoint degrees over all DIRECTED edge
    * instances — do similar vectors of similar "popularity" link
    * (assortative, r > 0) or do hubs attach to leaves (disassortative,
    * r < 0)? On a mutual-top-k graph strong disassortativity flags hub
    * artifacts the mutuality filter let through. ALL-INTEGER: with
    * both orientations counted the x/y marginals coincide, so
    * r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — a pure rational, NO sqrt;
    * r_micro = sign-split div of 10⁶·numerator (negative when
    * disassortative) by the denominator, 0 when the graph is
    * degree-regular (denominator 0). Co-moment sums are emitted
    * alongside so a consumer can re-derive r exactly. BIGINT envelope:
    * 10⁶·n·Σxy needs n·Σxy ≲ 9·10¹² — DECIMAL(38) beyond (the
    * emb_dim_stats pattern). One degree agg + two broadcast-size joins
    * + one global agg; single output row at any scale. */
  def degreeAssort(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    und
      .join(dg.select(col("u"), col("deg").as("dx")), Seq("u"))
      .join(dg.select(col("u").as("v"), col("deg").as("dy")), Seq("v"))
      .agg(count(lit(1)).as("n"),
           sum("dx").as("sum_x"),
           sum(col("dx") * col("dy")).as("sum_xy"),
           sum(col("dx") * col("dx")).as("sum_x2"))
      .withColumn("r_micro",
        expr("CASE WHEN n * sum_x2 - sum_x * sum_x = 0 THEN CAST(0 AS BIGINT) " +
             "ELSE (1000000 * (n * sum_xy - sum_x * sum_x)) " +
             "div (n * sum_x2 - sum_x * sum_x) END"))
      .select("n", "sum_x", "sum_xy", "sum_x2", "r_micro")
  }

  /** Newman modularity of the IVF HOME-CELL partition evaluated on the
    * mutual-kNN similarity graph — "do the coarse quantizer's cells
    * align with the graph's natural communities?", the structural
    * complement of [[Similarity.cellPurity]]'s label-based purity (a
    * quantizer can be label-pure yet cut every similarity edge; this
    * catches that). Q = Σ_c (e_c/m − (d_c/2m)²) computed EXACTLY per
    * cell over the common denominator 4m²: q_num = 4m·e_c − d_c²
    * (BIGINT, can be negative), q_micro = (10⁶·q_num) div 4m² — Spark
    * `div` truncates toward zero, so the oracle uses the sign-split
    * `//` form (CLAUDE.md integer-division rule). Consumers wanting
    * exact total Q sum q_num and divide once. BIGINT envelope:
    * 10⁶·4m·e_c needs m ≲ 1.5·10⁶ edges — beyond that the 100 TB form
    * switches these products to DECIMAL(38) sums (the emb_dim_stats
    * pattern). Plan: two broadcast-size joins of the memoized edge
    * frame against the memoized home assignment, one |nodes| degree
    * agg — |cells| output rows at any scale. Cells with no graph node
    * don't appear (they contribute 0 to Q). */
  def cellModularity(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val home = Similarity.ivfAssignRanked(spark, dir)
      .filter(col("rn") === 1).select("vec_id", "cell")
    val und = mu.select(col("a_id").as("u"))
      .union(mu.select(col("b_id").as("u")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val mtot = mu.agg(count(lit(1)).as("m"))
    val eIn = mu
      .join(home.select(col("vec_id").as("a_id"), col("cell").as("ca")), Seq("a_id"))
      .join(home.select(col("vec_id").as("b_id"), col("cell").as("cb")), Seq("b_id"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cell")).agg(count(lit(1)).as("e_in"))
    dg.join(home.select(col("vec_id").as("u"), col("cell")), Seq("u"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_tot"))
      .join(eIn, Seq("cell"), "left")
      .crossJoin(broadcast(mtot))
      .select(col("cell"), col("n_nodes"), col("d_tot"),
              coalesce(col("e_in"), lit(0L)).as("e_in"), col("m"))
      .withColumn("q_num",
        (lit(4L) * col("m") * col("e_in") - col("d_tot") * col("d_tot")))
      .withColumn("q_micro",
        expr("(1000000 * q_num) div (4 * m * m)"))
      .select("cell", "n_nodes", "d_tot", "e_in", "q_num", "q_micro")
      .orderBy("cell")
  }

  /** Common-neighbor link prediction over the mutual-kNN graph — the
    * classic graph-ML candidate generator (two nodes sharing many
    * neighbors are likely the same entity or near-duplicates the kNN
    * top-3 cut just missed): for every NON-adjacent pair with at least
    * one shared neighbor, count shared neighbors. Wedge enumeration is
    * one |edges|-row self-join on the shared apex; on a mutual-top-k
    * graph degree is ≤ k by construction, so wedge volume is ≤ k²·|V|
    * at ANY corpus scale — the bounded-fanout property that makes this
    * safe where a general social graph would need the triangles
    * orientation trick. Existing edges are anti-joined away (they are
    * kNN hits, not predictions). */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val cn = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("x_id"), col("e2.v").as("y_id"))
      .groupBy("x_id", "y_id").agg(count(lit(1)).as("cn"))
    cn.join(mu, cn("x_id") === mu("a_id") && cn("y_id") === mu("b_id"),
            "left_anti")
      .select("x_id", "y_id", "cn")
  }

  /** Resource-allocation link prediction (Zhou/Lü/Zhang's RA index) —
    * [[commonNeighbors]] refined by hub discounting: a shared neighbor
    * that links to everything is weak evidence, so each common neighbor
    * z contributes 1/deg(z) instead of 1. ALL-INTEGER in micro-units:
    * `1000000 div deg(z)` (degrees are positive, so floor division is
    * engine-agnostic) — exactly reproducible, no ln() discipline
    * needed (that would be Adamic-Adar; RA is its stronger integer-
    * exact sibling and empirically the better predictor on dense
    * graphs). Same bounded wedge enumeration as commonNeighbors
    * (degree ≤ k on a mutual-top-k graph ⇒ wedges ≤ k²·|V| at any
    * scale); one extra |wedges|-row join to attach the apex degree. */
  def resourceAlloc(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("apex"), col("deg"))
    val ra = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("apex"), col("e1.v").as("x_id"),
              col("e2.v").as("y_id"))
      .join(dg, Seq("apex"))
      .groupBy("x_id", "y_id")
      .agg(count(lit(1)).as("cn"),
           sum(expr("1000000 div deg")).as("ra_micro"))
    ra.join(mu, ra("x_id") === mu("a_id") && ra("y_id") === mu("b_id"),
            "left_anti")
      .select("x_id", "y_id", "cn", "ra_micro")
  }

  /** Adamic–Adar link prediction — the third classic index alongside
    * [[commonNeighbors]] (uniform weight) and [[resourceAlloc]]
    * (1/deg): each shared neighbor z contributes 1/ln(deg(z)) — a
    * logarithmic hub discount, the standard middle ground and the
    * published default in entity-resolution candidate scoring. Float
    * discipline: ln() is NOT IEEE-exactly-rounded (CLAUDE.md ln rule),
    * so deg's log is micronized FIRST (`round(ln(deg)·1e6)` as BIGINT)
    * and the contribution is the integer floor `1e12 div lnm` (micro-
    * units of 1/ln) — a wedge apex always has deg ≥ 2 (it needs two
    * distinct neighbors), so lnm ≥ 693147 > 0 and plain-div == `//`
    * (non-negative operands, CLAUDE.md division rule). Same bounded
    * wedge enumeration as the siblings: degree ≤ k on a mutual-top-k
    * graph ⇒ wedges ≤ k²·|V| at any corpus scale. */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val lnm = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("apex"),
              Num.lnMicro(col("deg").cast("double")).as("lnm"))
    val aa = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("apex"), col("e1.v").as("x_id"),
              col("e2.v").as("y_id"))
      .join(lnm, Seq("apex"))
      .groupBy("x_id", "y_id")
      .agg(count(lit(1)).as("cn"),
           sum(expr("1000000000000 div lnm")).as("aa_micro"))
    aa.join(mu, aa("x_id") === mu("a_id") && aa("y_id") === mu("b_id"),
            "left_anti")
      .select("x_id", "y_id", "cn", "aa_micro")
  }

  /** Neighborhood-Jaccard link prediction — the normalized fourth index
    * completing [[commonNeighbors]] (raw count) / [[resourceAlloc]]
    * (1/deg) / [[adamicAdar]] (1/ln deg): |N(x)∩N(y)| / |N(x)∪N(y)|,
    * which DISCOUNTS THE ENDPOINTS rather than the shared neighbors —
    * two low-degree nodes sharing 2 of their 3 neighbors outscore two
    * hubs sharing 2 of 50. ALL-INTEGER: (cn·10⁶) div (dx + dy − cn);
    * the union size is ≥ cn ≥ 1 so the division is non-negative and
    * engine-agnostic. Same bounded wedge enumeration, plus two
    * |pairs|-row degree joins. */
  def jaccardLink(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val cn = und.as("e1").join(und.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("x_id"), col("e2.v").as("y_id"))
      .groupBy("x_id", "y_id").agg(count(lit(1)).as("cn"))
    val jac = cn
      .join(dg.select(col("u").as("x_id"), col("deg").as("dx")), Seq("x_id"))
      .join(dg.select(col("u").as("y_id"), col("deg").as("dy")), Seq("y_id"))
      .withColumn("jac_micro",
        expr("(cn * CAST(1000000 AS BIGINT)) div (dx + dy - cn)"))
    jac.join(mu, jac("x_id") === mu("a_id") && jac("y_id") === mu("b_id"),
             "left_anti")
      .select("x_id", "y_id", "cn", "jac_micro")
  }

  /** Two-round semi-supervised label propagation over the mutual-kNN
    * graph — the weak-supervision shape a training pipeline uses to
    * extend a small labeled seed set to its embedding neighborhood
    * (label spreading, majority vote). Seeds are the first half of the
    * corpus (split = n/2 via [[CountMemo]] — reproduces the oracle's
    * literal 250 at sf0.01 n=500, same contract as
    * `dedup_incremental`); each synchronous round gives every
    * still-unlabeled node the MAJORITY label of its labeled neighbors
    * (count desc, label asc tie-break — pure integer, deterministic).
    * Per round: one |edges|-row join + one aggregation + one anti-join;
    * state is |nodes| rows. Rounds unrolled to 2 and mirrored as
    * oracle CTEs in lockstep. Output = adopted nodes only
    * (vec_id, label, iter). */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val split = CountMemo.get(spark, dir, "embeddings")(emb.count()) / 2
    val l0 = emb.filter(col("vec_id") < split)
    def round(labeled: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("vec_id")
        .orderBy(col("n").desc, col("label").asc)
      und
        .join(labeled.select(col("vec_id").as("v"), col("label")), Seq("v"))
        .join(labeled.select(col("vec_id").as("u")), Seq("u"), "left_anti")
        .groupBy(col("u").as("vec_id"), col("label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("vec_id", "label")
    }
    val n1 = round(l0)
    val n2 = round(l0.unionByName(n1))
    n1.withColumn("iter", lit(1))
      .unionByName(n2.withColumn("iter", lit(2)))
  }

  /** Connected components of the mutual-kNN similarity graph — the
    * one CC loop ([[connectedComponents]]) over similarity edges (the
    * embedding-cluster labeling a SemDeDup-style pipeline feeds into
    * per-cluster dedup and leakage-safe splits). Every node gets the
    * MINIMUM vec_id reachable in its component (singletons label
    * themselves). Memoized per (session, dir) (CkptMemo `graphcc`,
    * Bench owner: graph_components; NOT in PlanShapeSpec's laziness
    * allowlist). The oracle reconstructs the same labels with a
    * recursive transitive closure over the identical `mu` edges. */
  def components(spark: SparkSession, dir: String): DataFrame =
    CkptMemo.getOrElseUpdate((spark, dir, "graphcc"),
      connectedComponents(Tables.embeddings(spark, dir).select(col("vec_id")),
        Similarity.knnMutual(spark, dir).select("a_id", "b_id"), "vec_id", "comp"))

  /** THE connected-components loop — hash-min label propagation plus
    * pointer jumping over an undirected (a_id, b_id) edge frame `mu`:
    * each round every node takes (a) the min label among its neighbors
    * and (b) its label's own current label (path halving). (a) alone
    * converges in O(diameter) rounds, which a 30-round cap cannot cover
    * for long chains at 100 TB; (b) doubles the label's reach each
    * round, giving O(log n) convergence. Every round is two shuffle
    * joins, no driver graph. Returns (`id`, `label`) for every `id` of
    * `nodes`, label = the minimum id reachable. Generic over the column
    * names so each caller plans exactly as its own copy did:
    * [[Dedup.clusters]] (doc_id/cluster over near-dup pairs),
    * [[components]] (vec_id/comp over mutual-kNN edges) and
    * `tools/GraphEdgePrice` (prices the split-served edge set against
    * the audited one — one loop, so the comparison can never measure
    * two algorithms).
    *
    * Lifecycle per round: localCheckpoint (eager) materializes the round
    * AND truncates the logical plan to constant depth — without it the
    * self-join lineage doubles per round and Catalyst analysis blows up
    * after a handful of rounds. Once round k is materialized, round
    * k-1's checkpoint RDD is unpersisted, so exactly ONE label frame is
    * cached at any time; the final round's checkpoint IS the result. */
  private[graft] def connectedComponents(nodes: DataFrame, mu: DataFrame,
                                         id: String, label: String): DataFrame = {
    import org.apache.spark.sql.GraftSql
    val edges = mu
      .unionByName(mu.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .withColumnsRenamed(Map("a_id" -> "u", "b_id" -> "v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.withColumn(label, col(id)).localCheckpoint()
    var prevRdd = GraftSql.checkpointRdd(labels)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 30) {
      val neighborMin = edges
        .join(labels.withColumnsRenamed(Map(id -> "v", label -> "vc")), Seq("v"))
        .groupBy(col("u").as(id))
        .agg(min("vc").as("nmin"))
      val stepped = labels.withColumnRenamed(label, "old")
        .join(neighborMin, Seq(id), "left")
        .select(col(id), col("old"),
                least(col("old"), coalesce(col("nmin"), col("old"))).as("c1"))
      // pointer jumping: labels are ids, so c1 indexes back into this
      // round's own label table — label reach doubles per round
      val parent = stepped.select(col(id).as("c1"), col("c1").as("pc"))
      val matPre = stepped.join(parent, Seq("c1"), "left")
        .select(col(id),
                least(col("c1"), coalesce(col("pc"), col("c1"))).as(label),
                col("old"))
        .select(col(id), col(label),
                (col(label) < col("old")).as("chg")) // labels only decrease
      // stripOrigin is LOAD-BEARING, not cosmetic: Dataset
      // .localCheckpoint carries the pre-checkpoint plan's constraint
      // set into the new LogicalRDD leaf (originConstraints), and in
      // this loop round k+1's self-join compounds round k's set —
      // per-round wall DOUBLED past ~12 rounds (768 k tail: 46 s wall
      // vs 22 s task CPU, executors idle, all task metrics flat)
      // until the driver spent the round in constraint propagation.
      // Stripping the optimizer-hint metadata restores O(1) planning
      // per round; labels are identical (BASELINE round 19).
      val mat = GraftSql.stripOrigin(matPre.localCheckpoint())
      changed = mat.filter(col("chg")).count() // cheap: reads the checkpoint
      prevRdd.foreach(_.unpersist(false)) // round k-1's checkpoint now dead
      prevRdd = GraftSql.checkpointRdd(mat)
      labels = mat.select(id, label)
      rounds += 1
    }
    edges.unpersist()
    // Non-convergence must fail loudly, not return silently-wrong
    // labels that diverge from the recursive-closure oracle: with
    // pointer jumping, label reach doubles per round, so 30 rounds
    // cover any component ≤ 2^30 nodes — hitting the cap unconverged
    // means a bug, not a big graph.
    require(changed == 0,
      s"connected components: hash-min loop hit the $rounds-round cap with " +
      s"$changed labels still changing — unconverged labels would be wrong")
    labels
  }

  /** Component-SIZE distribution — the one-glance health readout of
    * [[components]] (a near-dup graph whose giant component swallows
    * the corpus means the similarity threshold is too loose; all
    * singletons means it is too tight — cluster_stats' lesson applied
    * to the similarity graph): nodes per component → components per
    * size, with each size's share of components in non-negative micro
    * units. Derived from the MEMOIZED label frame — zero extra CC
    * rounds; output is |distinct sizes| rows (≤ √(2·|V|) distinct
    * values possible) at any scale. */
  def componentSizes(spark: SparkSession, dir: String): DataFrame = {
    val sizes = components(spark, dir)
      .groupBy("comp").agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(count(lit(1)).as("n_comp"))
    sizes.groupBy("sz").agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(tot))
      .withColumn("share_micro",
        expr("(n_components * 1000000) div n_comp"))
      .select("sz", "n_components", "share_micro")
      .orderBy("sz")
  }

  /** Fixed-round k-core peeling (k=2, 3 synchronous rounds — the
    * pagerank unrolled-rounds contract) over the mutual-kNN graph: each
    * round recomputes every surviving node's degree in the SURVIVING
    * induced subgraph and drops nodes under k. The k-core is the
    * density screen a similarity-graph curation pass runs before
    * clustering — pendant/bridge vectors (degree-1 chains) peel away,
    * leaving the mutually-dense neighborhoods. Per round: two
    * |edges|-row semi-joins + one aggregation; state is |nodes| rows.
    * At 100 TB the round count is the only knob — convergence in O(peel
    * depth) rounds, each a bounded join+agg (KcoreSpec checks the
    * 3-round result against a run-to-convergence driver reference).
    * Output: every graph node with its in-core flag after round 3 and
    * its degree within the final surviving subgraph (0 if peeled).
    * Oracle unrolls the identical rounds as kc-prefixed CTEs in
    * lockstep. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val K = 2
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val all = und.select("u").distinct()
    var surv = all
    for (_ <- 1 to 3) {
      surv = und
        .join(surv, Seq("u"))
        .join(surv.withColumnRenamed("u", "v"), Seq("v"))
        .groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= K).select("u")
    }
    val finalDeg = und.join(surv, Seq("u"))
      .join(surv.withColumnRenamed("u", "v"), Seq("v"))
      .groupBy("u").agg(count(lit(1)).as("dg"))
    all.join(surv.withColumn("ic", lit(1)), Seq("u"), "left")
      .join(finalDeg, Seq("u"), "left")
      .select(col("u").as("vec_id"),
              coalesce(col("ic"), lit(0)).cast("int").as("in_core"),
              coalesce(col("dg"), lit(0L)).as("core_deg"))
  }

  /** Multi-source BFS layers (3 unrolled synchronous rounds) over the
    * mutual-kNN graph — the crawl-frontier / influence-radius shape: a
    * seed set (the first n/10 vec_ids via [[CountMemo]], reproducing
    * the oracle's literal 50 at sf0.01 n=500 — the adaptive-knob
    * lockstep rule) expands one hop per round; every node gets the
    * MINIMUM hop distance at which it was first reached (0 = seed,
    * unreached = -1). Per round: one |edges| join + one min-agg —
    * the same Pregel superstep as pagerank, state |nodes| rows. A
    * training-data use: grade corpus docs by embedding-graph distance
    * from a trusted seed set (curated-quality anchors). Oracle unrolls
    * identical bf-prefixed CTE rounds. */
  def bfsLayers(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
    val seedCut = CountMemo.get(spark, dir, "embeddings")(emb.count()) / 10
    var dist = emb.select(col("vec_id"),
      when(col("vec_id") < seedCut, 0).otherwise(lit(null)).as("d"))
    for (r <- 1 to 3) {
      val reached = und
        .join(dist.filter(col("d") === r - 1)
                  .select(col("vec_id").as("u")), Seq("u"))
        .select(col("v").as("vec_id")).distinct()
        .withColumn("nd", lit(r))
      dist = dist.join(reached, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("d"), col("nd")).as("d"))
    }
    dist.select(col("vec_id"), coalesce(col("d"), lit(-1)).as("layer"))
  }

  /** Personalized PageRank from a trusted seed set over the mutual-kNN
    * graph — the weighted counterpart of [[bfsLayers]] (which grades
    * docs by HOP COUNT from the anchors, losing multiplicity): PPR mass
    * compounds over the number of short paths from the seeds, the
    * graph-proximity data-selection score published for web-corpus
    * curation (select documents whose embedding neighborhood is dense
    * around curated-quality anchors). Same seed rule as BFS (vec_id <
    * n/10 via CountMemo — literal 50 at sf0.01, adaptive-knob lockstep),
    * same integer micro-mass discipline as [[pagerank]]: seeds start at
    * 10⁶ µ, each of 3 rounds spreads `r div deg` along edges and
    * re-injects the 15% restart mass ON SEEDS ONLY —
    * r' = seed·150000 + (85·Σ contrib) div 100, all non-negative so
    * floor division is engine-agnostic and the oracle unrolls identical
    * pp-prefixed rounds. Per round one |edges| join + one agg, state
    * |nodes| rows — the Pregel superstep shape; at 100 TB the rank side
    * alone shuffles per round (the bucketed-edge argument scales here
    * too if the mutual graph is materialized as a table). Non-seed
    * nodes more than 3 hops from every seed read 0 — exactly the docs
    * the selection would drop. */
  def ppr(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
    val seedCut = CountMemo.get(spark, dir, "embeddings")(emb.count()) / 10
    val nodes = dg.select(col("u").as("node"), col("deg"),
      (col("u") < seedCut).cast("int").as("seed"))
    val ewd = und.join(dg, Seq("u")) // (u, v, deg) — deg pre-attached
    var r = nodes.select(col("node"), (col("seed") * lit(1000000L)).as("r"))
    for (_ <- 1 to rounds) {
      val contrib = ewd.join(r, ewd("u") === r("node"))
        .select(col("v").as("node"), expr("r div deg").as("ct"))
        .groupBy("node").agg(sum("ct").as("c"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("seed") * lit(150000L) +
            expr("(85 * coalesce(c, 0)) div 100")).as("r"))
    }
    nodes.join(r, Seq("node"))
      .select(col("node").as("vec_id"), col("deg"), col("seed"),
              col("r").as("ppr_micro"))
      .orderBy("vec_id")
  }

  /** Eigenvector centrality over the mutual-kNN graph — truncated power
    * iteration (3 rounds, unrolled identically in the oracle): x₀ = 10⁶
    * per node, each round x'(v) = Σ_{u~v} x(u) re-normalized to a 10⁶
    * ceiling by the round's MAX ((s·10⁶) div max — a one-row broadcast,
    * never a global sort). Completes the centrality family: [[pagerank]]
    * is the damped/teleport variant, [[ppr]] the seeded one; raw
    * eigenvector mass is the "hub duplicates" detector (a doc whose
    * neighborhood is itself densely connected scores high even at
    * degree k). All mass non-negative → floor div ≡ `div` on both
    * engines. BIGINT envelope: s·10⁶ ≤ deg_max·10¹² — safe below
    * ~9·10⁶ max degree (the mutual-kNN graph is degree-bounded ≪ that
    * by construction). Per round one |edges| join + one agg; the fixed
    * round count bounds plan depth, no checkpoint needed. */
  def eigenCentrality(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
    var x = dg.select(col("node"), lit(1000000L).as("x"))
    for (_ <- 1 to rounds) {
      val s = und.join(x, und("u") === x("node"))
        .groupBy(col("v").as("node")).agg(sum("x").as("s"))
      val mx = s.agg(max("s").as("mx"))
      x = dg.join(s, Seq("node"), "left").crossJoin(broadcast(mx))
        .select(col("node"),
          coalesce(expr("(s * CAST(1000000 AS BIGINT)) div mx"), lit(0L)).as("x"))
    }
    dg.join(x, Seq("node"))
      .select(col("node").as("vec_id"), col("deg"), col("x").as("ec_micro"))
      .orderBy("vec_id")
  }

  /** Two-hop neighborhood size per node — the dedup "blast radius"
    * (how many documents are transitively within two similarity hops:
    * the set a cluster-level excision would touch). n_reach counts
    * DISTINCT nodes at distance ≤ 2, self excluded; computed from one
    * wedge join (volume ≤ Σ deg² — bounded on the degree-capped
    * mutual-kNN graph) + one distinct + one count. Direct neighbors
    * are unioned in so a path-2 node that is also a neighbor is not
    * double-counted. */
  def twoHopReach(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(mu.select(col("b_id").as("u"), col("a_id").as("v")))
    val dg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val two = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("u"), col("e2.v").as("v"))
      .filter(col("u") =!= col("v"))
    val reach = und.union(two).distinct()
      .groupBy("u").agg(count(lit(1)).as("n_reach"))
    dg.join(reach, Seq("u"))
      .select(col("u").as("vec_id"), col("deg"), col("n_reach"))
      .orderBy("vec_id")
  }

  /** Label homophily of the mutual-kNN graph — do similarity edges
    * connect same-label vectors more than chance? observed same-label
    * edge share vs the expected share under endpoint-label
    * independence (Σ q_l² over the degree-weighted endpoint label
    * distribution), normalized to the standard homophily index
    * (obs − exp)/(1 − exp). The sanity gate before trusting
    * label-propagation or kNN-label-eval outputs: h ≈ 0 means the
    * graph carries no label signal. Exact integers: shares in micro,
    * Σ c² rides DECIMAL(38) ≡ HUGEINT (the agg_hhi envelope), the
    * index numerator is SIGNED → sign-split // in the oracle, plain
    * div in Spark; all-one-label degenerates to 1e6 via a mirrored
    * CASE. One |E| join + model-sized label frames. */
  def labelHomophily(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val lab = Tables.embeddings(spark, dir).select("vec_id", "label")
    val e = mu
      .join(lab.withColumnsRenamed(Map("vec_id" -> "a_id", "label" -> "la")),
            Seq("a_id"))
      .join(lab.withColumnsRenamed(Map("vec_id" -> "b_id", "label" -> "lb")),
            Seq("b_id"))
    val obs = e.agg(count(lit(1)).as("n_edges"),
                    sum((col("la") === col("lb")).cast("long")).as("n_same"))
    val cnt = e.select(col("la").as("l"))
      .union(e.select(col("lb").as("l")))
      .groupBy("l").agg(count(lit(1)).as("c"))
    val exp = cnt.agg(
      sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))")).as("ssq"),
      sum("c").as("tot"))
    obs.crossJoin(broadcast(exp))
      .withColumn("obs_micro",
        expr("(n_same * CAST(1000000 AS BIGINT)) div n_edges"))
      .withColumn("exp_micro",
        expr("CAST((ssq * 1000000) div (CAST(tot AS DECIMAL(38,0)) * " +
             "CAST(tot AS DECIMAL(38,0))) AS BIGINT)"))
      .withColumn("homophily_micro",
        when(col("exp_micro") === 1000000L, lit(1000000L))
          .otherwise(expr("((obs_micro - exp_micro) * 1000000) div " +
                          "(1000000 - exp_micro)")))
      .select("n_edges", "n_same", "obs_micro", "exp_micro",
              "homophily_micro")
  }

  /** Degree distribution of the mutual-kNN graph — the one-glance
    * structural health check (a healthy mutual-top-3 graph concentrates
    * at degree ≤ 3; mass at higher degrees means duplicate clusters,
    * mass at 1 means isolated chains): nodes per degree, plus each
    * degree's share of nodes in nonneg integer micro units. Two
    * aggregations over the memoized edge frame; output is
    * |distinct degrees| rows (≤ k-ish) at any scale. */
  def degreeHist(spark: SparkSession, dir: String): DataFrame = {
    val mu = Similarity.knnMutual(spark, dir).select("a_id", "b_id")
    val und = mu.select(col("a_id").as("u"))
      .union(mu.select(col("b_id").as("u")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val tot = deg.agg(count(lit(1)).as("n_nodes"))
    deg.groupBy("deg").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("deg"), col("n"),
              expr("(n * 1000000) div n_nodes").as("share_micro"))
      .orderBy("deg")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> ((s, d) => pagerank(s, d)),
    "graph_kcore" -> kcore _,
    "graph_bfs_layers" -> bfsLayers _,
    "graph_degree_hist" -> degreeHist _,
    "graph_components" -> components _,
    "graph_component_sizes" -> componentSizes _,
    "graph_triangles" -> triangles _,
    "graph_clustering_coeff" -> clusteringCoeff _,
    "graph_cell_modularity" -> cellModularity _,
    "graph_degree_assort" -> degreeAssort _,
    "graph_common_neighbors" -> commonNeighbors _,
    "graph_resource_alloc" -> resourceAlloc _,
    "graph_adamic_adar" -> adamicAdar _,
    "graph_jaccard_link" -> jaccardLink _,
    "graph_ppr" -> ((s, d) => ppr(s, d)),
    "graph_eigen_centrality" -> ((s, d) => eigenCentrality(s, d)),
    "graph_2hop_reach" -> twoHopReach _,
    "graph_label_homophily" -> labelHomophily _,
    "graph_label_prop" -> labelProp _)
}
