package graft

import java.nio.file.Files

/** Fixture-backed checks for the curation operators whose interesting
  * cases the synthetic corpus can't exercise: PII patterns that actually
  * fire, chunk boundary arithmetic, contamination overlap counting. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft-text-fixture").toString
    val docs = Seq(
      (0L, "contact me at alice.smith+work@example-mail.co.uk or call 555-123-4567",
        "en", "srcA", 70L),
      (1L, "ssn on file 123-45-6789 twice 987-65-4321 end", "en", "srcA", 45L),
      (2L, "plain text with no sensitive content at all here", "en", "srcB", 48L),
      (3L, "x" * 500, "en", "srcB", 500L)) // one long doc for chunk windows
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("pii scan detects planted emails, phones, ssns") {
    val rows = ext.TextOps.piiScan(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(5))))
      .toMap
    assert(rows(0L) === ((1, 1, 0, 1))) // email + phone
    assert(rows(1L) === ((0, 0, 2, 1))) // two ssns
    assert(rows(2L) === ((0, 0, 0, 0))) // clean
    // n_word is non-zero on every doc — the oracle's live verification path
    assert(ext.TextOps.piiScan(spark, fixtureDir)
      .filter(org.apache.spark.sql.functions.col("n_word") > 0).count() === 4L)
  }

  test("chunking covers the text with the declared stride and sizes") {
    val chunks = ext.TextOps.chunk(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val long = chunks.filter(_._1 == 3L).sortBy(_._2)
    // 500 chars, stride 160 -> starts 0,160,320,480 -> lens 200,200,180,20
    assert(long.map(_._2).toSeq === Seq(0, 1, 2, 3))
    assert(long.map(_._4).toSeq === Seq(200, 200, 180, 20))
    assert(long.forall(c => c._3.forall(_ == 'x')))
    // short docs produce exactly one chunk holding the full text
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length === 1 && d2.head._3.length === 48)
  }

  test("contamination counts eval-set shingle overlap exactly") {
    // eval = srcA; doc 2 (srcB) shares no 5-gram with srcA docs; doc 3 has
    // a single token so no shingles at all
    val rows = ext.TextOps.contamination(spark, fixtureDir, evalSource = "srcA")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(2L)._1 === 5L) // 9 tokens -> 5 distinct 5-grams
    assert(rows(2L)._2 === 0L)
    assert(!rows.contains(3L))
    assert(!rows.contains(0L) && !rows.contains(1L)) // eval docs excluded
  }

  test("misra-gries keeps every item above the n/(k+1) guarantee, incl. across merges") {
    val mg = new functions.MisraGries(9)
    // 100 copies of "hot" in 600 items: f = 100 > 600/10 -> must survive
    val stream = scala.util.Random.shuffle(
      Seq.fill(100)("hot") ++ (0 until 500).map(i => s"noise$i")).toList
    val whole = stream.foldLeft(mg.zero)(mg.reduce)
    assert(mg.finish(whole).contains("hot"))
    val (l, r) = stream.splitAt(300)
    val merged = mg.merge(l.foldLeft(mg.zero)(mg.reduce),
                          r.foldLeft(mg.zero)(mg.reduce))
    assert(mg.finish(merged).size <= 9)
    assert(mg.finish(merged).contains("hot"))
  }

  test("tfidf ranks doc-specific tokens above corpus-wide ones") {
    val top1 = ext.TextOps.tfidf(spark, fixtureDir).filter($"rn" === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every token in docs 0-3 is unique to its doc except none shared...
    // doc 3's only token is "xxx...": df=1, tf=1 -> it is the top token
    assert(top1(3L) === "x" * 500)
  }

  private val sf001 = "/root/testdata/sf0.01"

  test("bm25 puts the rare discriminative term's docs on top") {
    // 'dup' appears in 25 of 500 docs: idf(dup) ~ ln(20) dwarfs the
    // common terms' ~0 idf, so every top-ranked doc must contain it.
    val rows = ext.TextOps.bm25(spark, sf001).collect()
    assert(rows.length === 10)
    val dupDocs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"text".contains("dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val topDocs = rows.map(_.getLong(0))
    assert(topDocs.forall(dupDocs.contains),
           s"top-10 contains non-'dup' docs: ${topDocs.mkString(",")}")
    // ranks strictly follow score_micro desc, doc_id asc
    val ord = rows.sortBy(_.getInt(4))
      .map(r => (-r.getLong(2), r.getLong(0))).toSeq
    assert(ord === ord.sorted, "rn disagrees with (score desc, doc_id) order")
  }

  test("bigram logprob covers every adjacent pair and scores fluency negative") {
    val nTok = ext.TextOps.tokens(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = ext.TextOps.bigramLogprob(spark, sf001).collect()
    assert(rows.length === nTok.count(_._2 >= 2))
    rows.foreach { r =>
      val (id, nBi) = (r.getLong(0), r.getLong(1))
      assert(nBi === nTok(id) - 1L, s"doc $id: $nBi bigrams for ${nTok(id)} tokens")
      assert(r.getDouble(3) < 0.0, s"doc $id: avg log-prob must be negative")
    }
  }

  test("pmi top-20 are genuine collocations, ranked consistently") {
    val rows = ext.TextOps.pmi(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.length === 20)
    // every top-20 pair must co-occur MORE than independence predicts
    assert(rows.forall(_._4 > 0L), "non-positive PMI in top-20")
    val byRank = rows.sortBy(_._5)
    val keys = byRank.map(t => (-t._4, t._1, t._2)).toSeq
    assert(keys === keys.sorted, "rn disagrees with (pmi desc, x, y) order")
    assert(byRank.forall(t => t._1 < t._2), "pair not ordered x < y")
  }

  test("multi-query bm25 per-query slice equals the single-query scorer") {
    // df/dl/avgdl are per-term and global, so restricting the scorer to
    // one query's terms must reproduce exactly that query's slice of the
    // multi frame — the invariant that makes the shared-stats pass valid
    val multi = ext.TextOps.bm25Multi(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(5)))
    assert(ext.TextOps.Bm25Queries.map(_._1).toSet === multi.map(_._1).toSet,
      "every eval query must surface results")
    for ((q, terms) <- ext.TextOps.Bm25Queries) {
      val single = ext.TextOps.bm25(spark, sf001, terms).collect()
        .map(r => (q, r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSet
      assert(multi.filter(_._1 == q).toSet === single,
        s"query $q slice diverges from the single-query scorer")
    }
  }

  test("zipf decimal algebra survives a multi-thousand-token vocabulary") {
    // the round-6 advice overflow: with x,y = ln*1e6, k*sxx passes 2^63
    // once |vocab| reaches a few hundred — BIGINT algebra threw under
    // ANSI. 4000 distinct tokens with zipf-ish counts exercises the
    // DECIMAL(38,0) path and checks the slope against an exact BigInt
    // driver-side mirror of the same micronized regression.
    import spark.implicits._
    val v = 4000
    val docs = (1 to v)
      .map(r => (r.toLong, (s"tok$r " * math.max(1, v / r)).trim))
      .toDF("doc_id", "text")
    val row = ext.TextOps.zipfOf(docs).head()
    assert(row.getLong(0) === v.toLong)
    val slope = row.getDouble(1)
    // driver mirror: identical ranking (count desc, token asc), BigInt sums
    val counts = (1 to v).map(r => s"tok$r" -> math.max(1, v / r).toLong)
      .sortBy { case (t, c) => (-c, t) }
    val xy = counts.zipWithIndex.map { case ((_, c), i) =>
      (BigInt(math.round(math.log(i + 1.0) * 1e6)),
       BigInt(math.round(math.log(c.toDouble) * 1e6)))
    }
    val k = BigInt(v)
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxy, sxx) = (xy.map(p => p._1 * p._2).sum, xy.map(p => p._1 * p._1).sum)
    assert((k * sxx - sx * sx) > BigInt(Long.MaxValue),
      "fixture too small to exercise the past-2^63 regime")
    val expect = math.round(((k * sxy - sx * sy).toDouble /
      (k * sxx - sx * sx).toDouble) * 1e6) / 1e6
    assert(slope === expect, s"decimal slope $slope != BigInt mirror $expect")
    assert(slope < -0.5, s"zipf-shaped fixture should slope steeply, got $slope")
  }

  test("quantile gate keeps at least half of every source") {
    val rows = ext.TextOps.quantileSelect(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nKept) = (r.getLong(2), r.getLong(3))
      assert(nKept * 2 >= nDocs,
             s"${r.getString(0)}: lower-median gate kept $nKept of $nDocs")
      assert(nKept < nDocs, s"${r.getString(0)}: gate dropped nothing")
    }
  }

  test("tf-idf cosine pairs == driver-side sparse recompute over the real corpus") {
    // independent mirror: collect per-doc shingle tf maps, rebuild
    // milli-idf weights, brute-force cosine over every candidate pair
    // sharing a shingle — must equal the inverted-index plan exactly
    val got = ext.TextOps.cosinePairs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
    val n = docs.length
    val tf = docs.map { case (id, t) =>
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size).filter(_._2 <= 50).toMap
    val w = tf.view.mapValues(_.flatMap { case (g, c) =>
      df.get(g).map(d =>
        g -> c * math.round(math.log((n + 1.0) / (d + 1.0)) * 1e3))
    }).toMap
    val nrm = w.view.mapValues(m => math.sqrt(m.values.map(x => x * x).sum.toDouble)).toMap
    val expected = (for {
      (a, wa) <- w.toSeq; (b, wb) <- w.toSeq if a < b
      dot = wa.keySet.intersect(wb.keySet).toSeq.map(g => wa(g) * wb(g)).sum
      if dot > 0
      // HALF_UP to mirror Num.rnd exactly (rint is banker's rounding)
      cos = BigDecimal(dot / (nrm(a) * nrm(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= 0.5
    } yield (a, b) -> cos).toMap
    assert(got.keySet == expected.keySet,
      s"pair sets differ: got ${got.size}, expected ${expected.size}")
    got.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) < 1e-9, s"$k: $v vs ${expected(k)}")
    }
  }

  test("cosine pairs free the weight checkpoint: the only RDD left " +
       "persisted is the one the returned plan reads, and it holds the result") {
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val got = ext.TextOps.queries("text_cosine_pairs")(spark, sf001)
    val n = got.collect().length.toLong
    val left = sc.getPersistentRDDs.keySet -- before
    val reads = got.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
    assert(left === reads && left.size === 1,
      s"persisted after the call: $left; the returned plan reads: $reads")
    assert(sc.getPersistentRDDs(left.head).count() === n,
      "the persisted RDD is an intermediate, not the returned result")
  }

  test("mixture plan: rates cap at 1e6 and the planned take fits the budget") {
    val rows = ext.TextOps.mixturePlan(spark, sf001).collect()
    assert(rows.nonEmpty)
    val nSrc = rows.length
    val share = 10000L / nSrc
    rows.foreach { r =>
      val (toks, rate, planned) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(rate <= 1000000L && rate > 0L)
      assert(planned <= toks, "planned exceeds available")
      assert(planned <= share, "planned exceeds the per-source share")
      if (toks <= share) assert(rate == 1000000L, "small source not taken whole")
    }
    assert(rows.map(_.getLong(4)).sum <= 10000L, "plan exceeds total budget")
  }

  test("KS drift: disjoint supports give D=1, identical give D=0, real corpus matches brute force") {
    import spark.implicits._
    // disjoint length supports: every src0 doc shorter than every other
    val disjoint = Seq(
      (0L, "src0", "a b"), (1L, "src0", "a b c"),
      (2L, "srcX", "a b c d e f"), (3L, "srcX", "a b c d e f g")
    ).toDF("doc_id", "source", "text")
    val d1 = ext.TextOps.ksDriftOf(disjoint).collect().head
    assert(d1.getLong(3) == 1000000L, "disjoint supports must give KS=1")
    // identical length multisets -> D = 0
    val same = Seq(
      (0L, "src0", "a b"), (1L, "src0", "a b c"),
      (2L, "srcX", "x y"), (3L, "srcX", "x y z")
    ).toDF("doc_id", "source", "text")
    assert(ext.TextOps.ksDriftOf(same).collect().head.getLong(3) == 0L)
    // brute force on the real sf0.001 lengths
    import org.apache.spark.sql.functions.{col, size, split}
    val lens = Tables.documents(spark, sf0001)
      .select(col("source"), size(split(col("text"), " ")).as("len"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val a = lens.filter(_._1 == "src0").map(_._2)
    val b = lens.filter(_._1 != "src0").map(_._2)
    val d = (a ++ b).distinct.map { v =>
      math.abs(a.count(_ <= v).toLong * b.length -
               b.count(_ <= v).toLong * a.length)
    }.max
    val got = ext.TextOps.ksDrift(spark, sf0001).collect().head
    assert(got.getLong(2) == d, s"d_num ${got.getLong(2)} != brute $d")
    assert(got.getLong(3) == d * 1000000L / (a.length.toLong * b.length))
  }

  test("mixture apply: deterministic, honors the plan's rates per source") {
    val plan = ext.TextOps.mixturePlan(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val kept = ext.TextOps.mixtureApply(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // every kept row carries its source's planned rate; full-rate
    // sources keep everything; rerun is bit-identical (no rand())
    kept.foreach { case (_, src, rate) => assert(rate == plan(src)._2) }
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    plan.foreach { case (src, (nDocs, rate)) =>
      val k = bySrc.getOrElse(src, 0L)
      assert(k <= nDocs)
      if (rate == 1000000L) assert(k == nDocs, s"$src full rate but dropped docs")
    }
    val rerun = ext.TextOps.mixtureApply(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kept.toSet == rerun.toSet, "apply is not reproducible")
  }

  test("vocab OOV == driver-side top-16 vocabulary recomputation; non-vacuous") {
    val docs = Tables.documents(spark, sf001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tokens = docs.flatMap { case (s, t) => t.split(" ", -1).map(s -> _) }
    val counts = tokens.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val vocab = counts.toSeq.sortBy { case (tok, n) => (-n, tok) }
      .take(16).map(_._1).toSet
    val expect = tokens.groupBy(_._1).map { case (src, ts) =>
      val total = ts.length.toLong
      val oov = ts.count(t => !vocab.contains(t._2)).toLong
      val types = ts.map(_._2).distinct.count(vocab.contains).toLong
      src -> (total, oov, types, oov * 1000000L / total)
    }
    val got = ext.TextOps.vocabOov(spark, sf001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expect)
    // cap splits the 31-type corpus: every source must see real OOV mass
    assert(got.values.forall(_._2 > 0L), "OOV check vacuous — no OOV tokens")
  }
}
