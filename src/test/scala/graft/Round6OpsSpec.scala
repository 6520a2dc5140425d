package graft

import org.apache.spark.sql.functions._
import graft.ops.{Governance, Graph, Incremental, Sampling, Similarity, TextAnalysis}

/** Semantics of the round-6 operator batch: Gopher rules, boolean
  * retrieval, temperature mixture, k-anonymity, link prediction.
  */
class Round6OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Gopher rule battery ----------------------------------------------

  private def gopher(rows: (Long, String)*) =
    TextAnalysis.gopherRules(rows.toSeq.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

  test("gopher: word-count bounds catch short documents") {
    val longDoc = ("the word with data " * 20).trim // 80 words, 2 stopwords
    val r = gopher(1L -> "too short", 2L -> longDoc)
    assert(!r(1L).getAs[Boolean]("r_word_count"))
    assert(r(2L).getAs[Boolean]("r_word_count"))
    assert(r(2L).getAs[Boolean]("gopher_pass"))
  }

  test("gopher: symbol ratio counts # and ellipses against words") {
    // 4 words, 1 '#': 1*10 > 4 → fail; clean text passes
    val r = gopher(1L -> "spam # spam spam", 2L -> "clean words only here")
    assert(!r(1L).getAs[Boolean]("r_symbol_ratio"))
    assert(r(2L).getAs[Boolean]("r_symbol_ratio"))
  }

  test("gopher: bullet and ellipsis line rules fire per line") {
    val bullets = (1 to 10).map(i => s"- item $i").mkString("\n")
    val ell = (1 to 10).map(i =>
      if (i <= 4) s"line $i..." else s"line $i").mkString("\n")
    val r = gopher(1L -> bullets, 2L -> ell)
    assert(!r(1L).getAs[Boolean]("r_bullet_lines")) // 100% > 90%
    assert(!r(2L).getAs[Boolean]("r_ellipsis_lines")) // 40% > 30%
  }

  test("gopher: mean word length and alpha-word rules") {
    val acronymSoup = Seq.fill(60)("a").mkString(" ") // mean len 1 < 3
    val numberSoup = (1 to 60).map(_.toString).mkString(" ") // no alpha
    val r = gopher(1L -> acronymSoup, 2L -> numberSoup)
    assert(!r(1L).getAs[Boolean]("r_mean_wordlen"))
    assert(!r(2L).getAs[Boolean]("r_alpha_words"))
  }

  test("gopher: required-stopword rule at the published threshold") {
    val two = "the cat sat with " + Seq.fill(50)("cat").mkString(" ")
    val none = Seq.fill(54)("cat").mkString(" ")
    val r = gopher(1L -> two, 2L -> none)
    assert(r(1L).getAs[Boolean]("r_stopwords")) // 'the' + 'with' = 2
    assert(!r(2L).getAs[Boolean]("r_stopwords"))
  }

  // ---- Unicode canonicalization ------------------------------------------

  test("unicode: NFD and NFC spellings collapse; accents fold; " +
      "non-decomposable characters pass through") {
    import graft.functions.UnicodeNorm
    val nfd = "café crème Nöel"
    val nfc = "café crème Nöel"
    assert(nfd !== nfc) // byte-different before normalization
    assert(UnicodeNorm.nfc(nfd) === nfc)
    assert(UnicodeNorm.stripAccents(nfc) === "cafe creme Noel")
    assert(UnicodeNorm.stripAccents(nfd) === "cafe creme Noel")
    // ø, ß, ł have no canonical decomposition — kept (the DuckDB
    // strip_accents contract, probed directly)
    assert(UnicodeNorm.stripAccents("søß łódź") === "søß łodz")
    // codegen path agrees with the helper
    val out = Seq((1L, nfd)).toDF("id", "t")
      .selectExpr("accent_strip(lower(nfc_normalize(t))) AS f")
      .collect()(0).getString(0)
    assert(out === "cafe creme noel")
  }

  // ---- URL canonicalization ----------------------------------------------

  test("url canonical: case, slash, utm, param order, fragment collapse") {
    val urls = Seq(
      (1L, "https://EXAMPLE.com/a/b/?b=2&a=1&utm_campaign=x#frag"),
      (2L, "https://example.com/a/b?a=1&b=2"),
      (3L, "https://example.com/a/b?utm_source=y"), // params all tracking
      (4L, "https://example.com/a/b")
    ).toDF("id", "url")
    val c = urls.select(col("id"),
        graft.ops.UrlNormalize.canonical(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(c(1L) === "example.com/a/b?a=1&b=2")
    assert(c(1L) === c(2L))
    assert(c(3L) === "example.com/a/b")
    assert(c(3L) === c(4L))
  }

  // ---- Hashed classifier -------------------------------------------------

  test("hashed classifier: order-invariant, multiplicity-linear scores") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),   // permutation: identical score
      (3L, "alpha alpha"),        // 2x the weight of one 'alpha'
      (4L, "alpha")
    ).toDF("doc_id", "text")
    val s = graft.ops.TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s(1L) === s(2L))
    assert(s(3L) === 2 * s(4L))
  }

  // ---- Boolean retrieval ------------------------------------------------

  test("boolean search: only docs containing ALL terms, tf summed") {
    val docs = Seq(
      (1L, "spark join hash spark"), // all 3, tf_total 4
      (2L, "spark join"),            // missing 'hash'
      (3L, "hash join spark extra words")).toDF("id", "text")
    val out = TextAnalysis.booleanSearch(docs, "id", "text",
        Seq("spark", "join", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet === Set((1L, 3L, 4L), (3L, 3L, 3L)))
  }

  // ---- Temperature mixture ----------------------------------------------

  test("temperature mixture: sqrt law up-weights the small stratum") {
    // 900 vs 100 rows: proportional would be 9:1; sqrt law gives 3:1
    val df = ((1 to 900).map(i => ("big", i.toLong)) ++
      (1001 to 1100).map(i => ("small", i.toLong))).toDF("src", "id")
    val got = Sampling.temperatureMixture(df, "src", "id", budgetRows = 200)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // quotas: 200*sqrt(900)/(sqrt(900)+sqrt(100)) = 150; small = 50
    assert(got("big") === 150L, s"got $got")
    assert(got("small") === 50L, s"got $got")
  }

  test("temperature mixture: rerun- and partitioning-stable") {
    val df = (1 to 500).map(i => (s"s${i % 3}", i.toLong)).toDF("src", "id")
    val a = Sampling.temperatureMixture(df, "src", "id", 90)
      .select("id").as[Long].collect().sorted.toSeq
    val b = Sampling.temperatureMixture(df.repartition(7), "src", "id", 90)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  // ---- k-anonymity / l-diversity ---------------------------------------

  test("k-anonymity: group size and sensitive-diversity verdicts") {
    val df = Seq(
      ("a", 1L, "en"), ("a", 1L, "fr"), ("a", 1L, "de"), // k=3, l=3
      ("b", 2L, "en"), ("b", 2L, "en")                   // k=2, l=1
    ).toDF("src", "bucket", "lang")
    val audit = Governance.kAnonymityAudit(df,
        Seq(col("src"), col("bucket")), Seq("src", "bucket"),
        col("lang"), k = 3, l = 2)
      .collect().map(r => (r.getAs[String]("src"),
        r.getAs[Long]("k_of_group"), r.getAs[Long]("n_sensitive"),
        r.getAs[Boolean]("k_ok"), r.getAs[Boolean]("l_ok"))).toSet
    assert(audit === Set(("a", 3L, 3L, true, true),
      ("b", 2L, 1L, false, false)))
  }

  test("suppression set: exactly the rows of violating groups") {
    val df = (1 to 10).map(i => ("common", i.toLong)).toDF("g", "id")
      .union(Seq(("rare", 99L)).toDF("g", "id"))
    val sup = Governance.suppressionSet(df, Seq(col("g")), Seq("g"),
        col("id"), k = 5)
      .select("id").as[Long].collect().toSet
    assert(sup === Set(99L))
  }

  // ---- Generalization ladder ---------------------------------------------

  test("generalization ladder: chosen marks the smallest clean width") {
    // values 0..19 in one lang: width 1 → 20 singleton groups (k=5
    // fails); width 10 → groups of 10 (clean); width 100 → one group
    val df = (0 until 20).map(i => ("en", i.toLong)).toDF("lang", "n")
    val out = graft.ops.Governance.numericGeneralization(
        df, Seq("lang"), "n", widths = Seq(1L, 10L, 100L), k = 5)
      .orderBy("width").collect()
      .map(r => (r.getLong(0), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(out === Array((1L, 20L, false, false),
      (10L, 0L, true, true), (100L, 0L, true, false)))
  }

  // ---- Time-weighted average ---------------------------------------------

  test("TWAP weights by hold duration, not tick count") {
    val ev = Seq(
      (1L, 101L, "2024-01-01 00:00:00", 10.0),
      (1L, 102L, "2024-01-01 00:00:01", 30.0), // held 3x as long
      (1L, 103L, "2024-01-01 00:00:04", 999.0) // terminal: no duration
    ).toDF("user_id", "event_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val out = ev
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("v_cents"))
      .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy("user_id")
      .agg(sum("dur_us").as("span_us"),
        sum(col("dur_us") * col("v_cents")).as("weighted_fp"))
      .withColumn("twap_cents",
        col("weighted_fp").cast("double") / col("span_us"))
      .collect()(0)
    assert(out.getAs[Long]("span_us") === 4000000L)
    // (1s·1000c + 3s·3000c) / 4s = 2500c — the tick mean would be 2000c
    assert(out.getAs[Double]("twap_cents") === 2500.0)
  }

  // ---- Link prediction --------------------------------------------------

  private def lp(edges: Seq[(Long, Long)], minCommon: Int = 2,
                 cap: Int = 10000) =
    Graph.linkPrediction(edges.toDF("s", "d"), "s", "d", minCommon, cap)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

  test("4-cycle: opposite corners predicted with jaccard 1") {
    // 1-2-3-4-1: (1,3) share {2,4}, deg 2 each → jaccard 2/(2+2-2)=1
    val r = lp(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L))
    assert(r.keySet === Set((1L, 3L), (2L, 4L)))
    assert(r((1L, 3L)) === ((2L, 2L, 1.0)))
  }

  test("existing edges are never predicted; minCommon prunes paths") {
    // triangle 1-2-3 plus pendant 3-4: (1,3) is an edge; (1,4) shares
    // only node 3 → below minCommon=2
    val r = lp(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L))
    assert(r.isEmpty, s"got $r")
  }

  // ---- Personalized PageRank ---------------------------------------------

  test("PPR: proximity to the seed decays with distance; unreachable " +
      "components get nothing") {
    // path 0-1-2-3 plus a disconnected pair 10-11; seed {0}
    val base = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 10L -> 11L)
    val edges = (base ++ base.map(_.swap)).toDF("s", "d")
    val r = graft.ops.Graph.personalizedPageRank(edges, "s", "d",
        Seq(0L).toDF("id"), "id", iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // finite unconverged rounds oscillate on a bipartite path (mass
    // parity), so per-node monotonicity is NOT guaranteed — the invariants
    // are: the seed dominates, mass is conserved, unreachable gets none
    assert(r.keySet === Set(0L, 1L, 2L, 3L), s"reachable set wrong: $r")
    assert(r(0L) === r.values.max, s"seed must dominate: $r")
    val total = r.values.sum
    assert(total <= graft.ops.Graph.Scale &&
      total >= graft.ops.Graph.Scale - 1000L,
      s"mass leaked: $total vs ${graft.ops.Graph.Scale}")
    assert(!r.contains(10L) && !r.contains(11L),
      s"unreachable nodes must hold no mass: $r")
  }

  // ---- MIPS --------------------------------------------------------------

  test("MIPS ranks by inner product, not cosine") {
    // unit-ish vector vs a long vector pointing the same way: cosine
    // prefers the aligned unit vector, MIPS the long one
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),          // query
      (1L, Array(0.9f, 0.1f)),          // well aligned, short
      (2L, Array(5.0f, 3.0f))           // less aligned, long: ip 5.0
    ).toDF("id", "vec")
    val q = vecs.filter($"id" === 0L)
    val top = Similarity.mipsTopK(vecs, q, "id", "vec", k = 2)
      .orderBy("rank")
      .select("c_id", "ip").as[(Long, Double)].collect().toSeq
    assert(top.map(_._1) === Seq(2L, 1L))
    assert(top.head._2 === 5.0) // exact fixed-point descale
  }

  test("norm augmentation: augmented-cosine order equals MIPS order") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * (1 + i % 5)))).toDF("id", "vec")
    val queries = vecs.filter($"id" < 4L)
    val mips = Similarity.mipsTopK(vecs, queries, "id", "vec", k = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val cAug = Similarity.augmentForMips(vecs, "vec")
      .select($"id", $"vec_aug".as("vec"))
    val qAug = Similarity.augmentForMips(queries, "vec", isQuery = true)
      .select($"id", $"vec_aug".as("vec"))
    val viaCos = Similarity.bruteForceTopK(cAug, qAug, "id", "vec", k = 3)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(viaCos === mips,
      s"augmented cosine must reproduce MIPS order\n mips=$mips\n cos=$viaCos")
  }

  // ---- CCNet buckets -----------------------------------------------------

  test("ccnet buckets: per-language thirds, head = lowest surprisal") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull)
    val b = graft.ops.Curation.ccnetBuckets(docs, "doc_id", "text", "lang")
    val sizes = b.groupBy("lang", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val langs = sizes.keys.map(_._1).toSet
    langs.foreach { l =>
      val s = (1L to 3L).map(i => sizes.getOrElse((l, i), 0L))
      assert(s.max - s.min <= 1, s"$l buckets unbalanced: $s")
    }
    // head mean surprisal strictly below tail mean, every language
    val means = b.groupBy("lang", "bucket").agg(avg("avg_nll").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    langs.foreach { l =>
      assert(means((l, 1L)) < means((l, 3L)), s"$l head !< tail")
    }
  }

  // ---- Perceptual dHash --------------------------------------------------

  test("dhash56: small perturbations stay within a few Hamming bits; " +
      "unrelated payloads do not") {
    val base = (1 to 300).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val nearDup = base.updated(40, 'z').updated(200, 'q')
    val unrelated = (1 to 300).map(i => ('a' + (i * 11) % 26).toChar).mkString
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val h = df.selectExpr("doc_id", "dhash56(text) AS h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(h(1L), h(2L)) <= 6,
      s"near-dup drifted ${dist(h(1L), h(2L))} bits")
    assert(dist(h(1L), h(3L)) > 6,
      s"unrelated collided at ${dist(h(1L), h(3L))} bits")
    assert((h(1L) & (0xFFL << 56)) === 0L) // strictly 56 bits — positive
  }

  test("dhash56: payloads under one code point per cell are NULL") {
    val df = Seq((1L, "short"), (2L, "x" * 63)).toDF("doc_id", "text")
    val rows = graft.ops.Multimodal.perceptualHash(
        graft.ops.Multimodal.toMediaTable(df))
      .orderBy("doc_id").collect()
    assert(rows(0).isNullAt(2))
    assert(!rows(1).isNullAt(2)) // uniform payload: all-compare-false = 0
    assert(rows(1).getLong(2) === 0L)
  }

  // ---- Incremental aggregate maintenance ---------------------------------

  test("merge(partial(A), partial(B)) == partial(A ∪ B) for any split") {
    val rows = (1 to 300).map(i => (s"k${i % 7}", (i * 37 % 100).toLong))
      .toDF("k", "v")
    val (a, b) = (rows.filter($"v" < 50), rows.filter($"v" >= 50))
    val merged = Incremental.merge(
        Incremental.partial(a, Seq("k"), "v"),
        Incremental.partial(b, Seq("k"), "v"), Seq("k"))
      .orderBy("k").collect().map(_.toSeq)
    val full = Incremental.partial(rows, Seq("k"), "v")
      .orderBy("k").collect().map(_.toSeq)
    assert(merged === full)
  }

  test("delta-only keys enter the summary; empty delta is the identity") {
    val base = Seq(("a", 1L), ("a", 3L)).toDF("k", "v")
    val delta = Seq(("b", 9L)).toDF("k", "v")
    val pBase = Incremental.partial(base, Seq("k"), "v")
    val merged = Incremental.merge(pBase,
        Incremental.partial(delta, Seq("k"), "v"), Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged === Seq(("a", 2L, 4L), ("b", 1L, 9L)))
    val ident = Incremental.merge(pBase,
        Incremental.partial(delta.filter($"v" < 0), Seq("k"), "v"), Seq("k"))
      .orderBy("k").collect().map(_.toSeq)
    assert(ident === pBase.orderBy("k").collect().map(_.toSeq))
  }

  test("middle-degree cap excludes hub-generated candidate pairs") {
    // star: hub 0 connected to 1..5; all pairs share only the hub
    val star = (1L to 5L).map(0L -> _)
    val uncapped = lp(star, minCommon = 1)
    assert(uncapped.size === 10) // C(5,2) through the hub
    val capped = lp(star, minCommon = 1, cap = 4)
    assert(capped.isEmpty) // hub degree 5 > 4 → no wedges survive
  }
}
