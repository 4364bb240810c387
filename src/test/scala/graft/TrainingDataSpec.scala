package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

class TrainingDataSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("native expressions match their built-in formulations bit-for-bit") {
    import graft.functions.{Hashing, VectorOps}
    val strs = Seq("", "a", "hello world", "Ünïcodé ☃ text", "0:shingle a b")
      .toDF("s")
    val hcmp = strs.select(
      Hashing.hash60(col("s")).as("native"),
      Hashing.hash60Composed(col("s")).as("composed")).collect()
    assert(hcmp.forall(r => r.getLong(0) == r.getLong(1)),
      s"hash mismatch: ${hcmp.mkString(",")}")
    // driver-side replica matches too
    assert(Hashing.hash60Local("hello world") ==
      hcmp(2).getLong(0) || true) // alignment checked below per-row
    val local = strs.collect().map(r => Hashing.hash60Local(r.getString(0)))
    assert(hcmp.map(_.getLong(0)).toSeq == local.toSeq)

    val vecs = Seq((Seq(1.5f, -2.25f, 3.125f), Seq(0.5f, 4.0f, -1.0f)))
      .toDF("a", "b")
      .select(VectorOps.toDouble(col("a")).as("a"), VectorOps.toDouble(col("b")).as("b"))
    val dcmp = vecs.select(
      VectorOps.dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0d), (acc, x) => acc + x).as("hof")).head()
    assert(dcmp.getDouble(0) == dcmp.getDouble(1))

    val toks = Seq("one two three four five", "a b", "x y z x y z x y z")
      .toDF("t").select(Hashing.tokens(col("t")).as("tk"))
    val scmp = toks.select(
      Hashing.shingles3(col("tk")).as("native"),
      Hashing.shingles3Composed(col("tk")).as("composed")).collect()
    assert(scmp.forall(r =>
      r.getAs[collection.Seq[String]](0) == r.getAs[collection.Seq[String]](1)))

    // bigrams: non-distinct, position order, empty under 2 tokens
    val bcmp = toks.select(Hashing.bigrams2(col("tk")).as("bg"),
      when(size(col("tk")) >= 2,
        transform(sequence(lit(1), size(col("tk")) - 1), i =>
          concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
        .otherwise(array().cast("array<string>")).as("hof")).collect()
    assert(bcmp.forall(r =>
      r.getAs[collection.Seq[String]](0) == r.getAs[collection.Seq[String]](1)),
      s"bigram mismatch: ${bcmp.mkString(";")}")
    assert(bcmp(2).getAs[collection.Seq[String]](0).size == 8,
      "bigrams must keep duplicates")

    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val mcmp = toks
      .select(Hashing.shingles3(col("tk")).as("s"))
      .select(
        column(graft.functions.MinHash60(expression(col("s")), 8)).as("native"),
        transform(sequence(lit(0), lit(7)), p =>
          array_min(transform(col("s"), g => Hashing.hash60(p, g)))).as("hof"))
      .collect()
    assert(mcmp.forall(r =>
      r.getAs[collection.Seq[Any]](0) == r.getAs[collection.Seq[Any]](1)),
      s"minhash mismatch: ${mcmp.mkString(";")}")
  }

  test("languageId scores marker stopwords and argmaxes deterministically") {
    val d = docs(
      1L -> "the cat is one of the fast animals and it is quick",
      2L -> "der hund ist und das haus ist der ort",
      3L -> "le chat est la maison et le chien est grand",
      4L -> "el perro y los gatos y el sol",
      5L -> "xyzzy plugh qwerty")
    val r = TextAnalysis.languageId(d).orderBy("doc_id").collect()
    assert(r.map(_.getAs[String]("pred_lang")).toSeq ==
      Seq("en", "de", "fr", "es", "und"))
    assert(r(0).getAs[Long]("s_en") == 6) // the x2, is x2, of, and
  }

  test("qualityScore components and composite are bounded and exact") {
    val d = docs(1L -> "the quick fox. jumps, high!")
    val r = TextAnalysis.qualityScore(d).head()
    assert(r.getAs[Long]("n_chars") == 27)
    assert(r.getAs[Long]("n_words") == 5)
    assert(r.getAs[Double]("punct_ratio") == math.rint(3.0 / 27 * 1e6) / 1e6)
    assert(r.getAs[Double]("quality") > 0 && r.getAs[Double]("quality") <= 1.0)
  }

  test("tokenCounts: whitespace vs regex tokens") {
    val d = docs(1L -> "ab12 c! d")
    val r = TextAnalysis.tokenCounts(d).head()
    assert(r.getAs[Long]("ws_tokens") == 3)
    assert(r.getAs[Long]("re_tokens") == 5) // ab,12,c,!,d
  }

  test("fingerprint: bottom-k sketch is stable and near-dup-overlapping") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 15) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val fp = TextAnalysis.fingerprint(docs(1L -> base, 2L -> nearDup, 3L -> other))
      .orderBy("doc_id").collect()
      .map(_.getAs[collection.Seq[Long]]("fp").toSeq)
    assert(fp(0).size == 8 && fp(0) == fp(0).sorted)
    assert(fp(0).intersect(fp(1)).size >= 5, "near-dups share most of the sketch")
    assert(fp(0).intersect(fp(2)).isEmpty, "unrelated docs share nothing")
  }

  test("exact dedup keeps canonical (min-id) doc per content") {
    val d = docs(1L -> "same text here", 2L -> "same text here", 3L -> "different")
    val kept = Dedup.exact(d).orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val roll = Dedup.exactRollup(d).orderBy("canonical_id").collect()
    assert(roll.map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies")))
      .toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  private val baseWords = (1 to 40).map(i => s"word$i")
  private def perturbed(at: Int): String =
    baseWords.updated(at, "PERTURBED").mkString(" ")

  test("ngramJaccard and minHashLsh both find the planted near-dup pair") {
    val d = docs(
      1L -> baseWords.mkString(" "),
      2L -> perturbed(20),
      3L -> (200 to 240).map(i => s"w$i").mkString(" "))
    for (op <- Seq(
        Dedup.ngramJaccard(d, threshold = 0.5),
        Dedup.minHashLsh(d, threshold = 0.5))) {
      val pairs = op.collect()
      assert(pairs.length == 1)
      assert((pairs(0).getAs[Long]("id_a"), pairs(0).getAs[Long]("id_b")) == (1L, 2L))
      assert(pairs(0).getAs[Double]("jaccard") > 0.8)
    }
  }

  test("split leakage: a train/test near-dup pair is flagged, " +
      "within-split and val/test dups are not") {
    import graft.ops.Splits
    // learn the deterministic split of candidate ids, then plant dups
    val ids = (1L to 300L).toDF("doc_id")
    val bySplit = Splits.assign(ids, "doc_id").collect()
      .groupBy(_.getString(1)).map { case (k, v) =>
        k -> v.map(_.getLong(0)).sorted.toSeq }
    val (tr1, tr2) = (bySplit("train")(0), bySplit("train")(1))
    val te = bySplit("test").head
    val va = bySplit("val").head
    val base = baseWords.mkString(" ")
    val d = docs(
      tr1 -> base, te -> perturbed(20),      // cross train/test → LEAK
      tr2 -> perturbed(3),                   // train/train dup → not a leak
      va -> perturbed(21),                   // val/test + val/train dups
      999999L -> (500 to 540).map(i => s"q$i").mkString(" "))
    val sp = Splits.assign(d, "doc_id").select(col("doc_id"), col("split"))
    val pairs = Dedup.ngramJaccard(d)
    val leaks = pairs
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter((col("split_a") === "train") =!= (col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("id_b")).otherwise(col("id_a"))
          .as("leak_id"),
        when(col("split_a") === "train", col("id_a")).otherwise(col("id_b"))
          .as("train_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every leak pairs an eval doc with a train doc
    assert(leaks.contains((te, tr1)) && leaks.contains((te, tr2)))
    assert(leaks.contains((va, tr1)) && leaks.contains((va, tr2)))
    // train/train and val/test pairs are excluded
    assert(!leaks.exists(p => p._1 == tr1 || p._1 == tr2))
    assert(!leaks.exists(p => Set(p._1, p._2) == Set(va, te)))
  }

  test("ngramContainment flags a quoted/pasted subset that Jaccard " +
      "misses, and reports both directions") {
    val small = (1 to 10).map(i => s"w$i").mkString(" ")
    val big = ((1 to 10).map(i => s"w$i") ++
      (11 to 60).map(i => s"x$i")).mkString(" ")
    val d = docs((1L, small), (2L, big), (3L, "totally different words here"))
    // doc 1's shingles are a strict subset of doc 2's
    val cont = Dedup.ngramContainment(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(cont.length == 1 && cont.head._1 == 1L && cont.head._2 == 2L)
    assert(cont.head._3 == 1.0, "doc 1 fully contained in doc 2")
    assert(cont.head._4 < 0.2, "doc 2 barely overlaps doc 1")
    // Jaccard at its default threshold structurally misses this pair
    val jac = Dedup.ngramJaccard(d, threshold = 0.5).collect()
    assert(jac.isEmpty, "low-union subset pair must be invisible to Jaccard")
  }

  test("ngramJaccardCapped drops only hot-shingle candidates; verify stays exact") {
    // docs 1..2: a genuine near-dup pair via RARE shingles.
    // docs 10..19: each unique EXCEPT a shared boilerplate sentence whose
    // shingles are hot (df = 10 > cap) — uncapped, those 10 docs generate
    // C(10,2)=45 candidate pairs; capped, zero.
    val boiler = "this document is provided as is without warranty"
    val d = docs(
      (Seq(1L -> baseWords.mkString(" "), 2L -> perturbed(20)) ++
        (10L to 19L).map(i =>
          i -> s"$boiler ${(1 to 30).map(j => s"u${i}w$j").mkString(" ")}")): _*)
    val capped = Dedup.ngramJaccard(d, threshold = 0.05, maxDf = 5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val uncapped = Dedup.ngramJaccard(d, threshold = 0.05).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(capped.contains((1L, 2L)), "rare-shingle pair must survive the cap")
    assert(uncapped.exists(p => p._1 >= 10L), "boilerplate pairs exist uncapped")
    assert(!capped.exists(p => p._1 >= 10L), "hot-shingle pairs must be dropped")
    assert(capped.subsetOf(uncapped), "cap may only remove pairs, never add")
    // verify is exact: the surviving pair's jaccard matches the uncapped one
    val jCapped = Dedup.ngramJaccard(d, threshold = 0.05, maxDf = 5)
      .filter(col("id_a") === 1L).head().getAs[Double]("jaccard")
    val jFull = Dedup.ngramJaccard(d, threshold = 0.05)
      .filter(col("id_a") === 1L).head().getAs[Double]("jaccard")
    assert(jCapped == jFull)
  }

  test("simHash: identical docs at hamming 0, near-dups close, others far") {
    val d = docs(
      1L -> baseWords.mkString(" "),
      2L -> baseWords.mkString(" "),
      3L -> perturbed(20))
    val pairs = Dedup.simHash(d, maxHamming = 5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0)
  }

  test("splits are deterministic, exhaustive, and stable under growth") {
    import graft.ops.Splits
    val d = (1L to 500L).map(i => i -> s"doc $i").toDF("doc_id", "text")
    val s1 = Splits.assign(d, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val s2 = Splits.assign(d, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(s1 == s2, "same rows, same splits, every run")
    val frac = s1.values.groupBy(identity).view.mapValues(_.size)
    assert(frac("train") > 350 && frac("train") < 450) // ~80%
    // growing the table never reassigns an existing row
    val bigger = (1L to 1000L).map(i => i -> s"doc $i").toDF("doc_id", "text")
    val s3 = Splits.assign(bigger, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(s1.forall { case (k, v) => s3(k) == v })
  }

  test("stratified sample takes the right fraction per group, stably") {
    import graft.ops.Splits
    val d = (1L to 300L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "grp")
    val s = Splits.stratified(d, "doc_id", "grp", 0.1)
    val counts = s.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 10)) // ceil(100 * 0.1) per group
    assert(s.collect().toSet == Splits.stratified(d, "doc_id", "grp", 0.1)
      .collect().toSet)
  }

  test("NULL stratum is its own group in stratified/quota/temperatureMix " +
      "(null-safe join: absent-source rows are sampled, never dropped)") {
    import graft.ops.Splits
    val d = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) null else s"g${i % 3}")).toDF("doc_id", "grp")
    val s = Splits.stratified(d, "doc_id", "grp", 0.1)
    val counts = s.groupBy("grp").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(None, Some("g1"), Some("g2")))
    assert(counts.values.forall(_ == 10)) // ceil(100 * 0.1), NULL included
    val q = Splits.quota(d, "doc_id", "grp", 5)
    val qCounts = q.groupBy("grp").count().collect().map(_.getLong(1))
    assert(qCounts.length == 3 && qCounts.forall(_ == 5L))
    val m = Splits.temperatureMix(d, "doc_id", "grp", 60L)
    val mGroups = m.select("grp").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(mGroups.contains(None), "NULL source must receive a mix quota")
  }

  test("ngramContainmentCapped: same pairs and exact values as the " +
      "uncapped op when shared shingles are cold; boilerplate capped") {
    val small = (1 to 10).map(i => s"w$i").mkString(" ")
    val big = ((1 to 10).map(i => s"w$i") ++
      (11 to 60).map(i => s"x$i")).mkString(" ")
    // 30 filler docs sharing one boilerplate sentence (hot shingles, df>20)
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val filler = (10L to 39L).map(i => (i, s"unique u${i}a u${i}b u${i}c " + boiler))
    val d = docs(Seq((1L, small), (2L, big), (3L, "totally different words here"))
      ++ filler: _*)
    val capped = Dedup.ngramContainment(d, threshold = 0.8, maxDf = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // the contained pair survives (its shingles are cold) with the
    // identical exact values the uncapped op reports
    val uncapped = Dedup.ngramContainment(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(capped.toSet == uncapped.toSet)
    assert(capped.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // and the boilerplate shingle generated no candidate blow-up: no
    // filler-filler pair reaches the threshold output
    assert(capped.forall(p => p._1 < 10L))
  }

  test("duplicateClusters computes transitive closure with min-id canon") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),          // chain 1-2-3 -> cluster 1
      (10L, 11L),                  // pair -> cluster 10
      (20L, 22L), (21L, 22L)       // star -> cluster 20
    ).toDF("id_a", "id_b")
    val clusters = graft.ops.Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  private def vec(seed: Int, flip: Int = -1): Seq[Float] =
    (0 until 64).map { d =>
      val v = (Similarity.planeCoefs(1, 64)(0)(d) * (seed + 1) % 1.0).toFloat
      if (d == flip) -v else v
    }

  private def embTable(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("embeddingCosine finds planted near-identical vectors") {
    val e = embTable(
      1L -> vec(1), 2L -> vec(1, flip = 3), 3L -> vec(7), 4L -> vec(13))
    val pairs = Dedup.embeddingCosine(e, threshold = 0.9).collect()
    assert(pairs.length == 1)
    assert((pairs(0).getAs[Long]("id_a"), pairs(0).getAs[Long]("id_b")) == (1L, 2L))
  }

  test("cdcChunks: content-defined boundaries survive a one-token " +
      "prepend (fixed-window chunking matches nothing on the same " +
      "corpus) and the census is distinct-doc-counted") {
    val h = graft.functions.Hashing.hash60Local _
    def isCut(w: String) = h(s"cdc:$w") % 16 == 0
    // three known cut words + distinct non-cut fillers, found by the
    // same hash the operator uses
    val cuts = (0 until 2000).map(i => s"c$i").filter(isCut).take(3)
    val fill = (0 until 2000).map(i => s"w$i").filterNot(isCut).take(33)
    assert(cuts.size == 3 && fill.size == 33)
    val body = (0 until 3).flatMap(k =>
      fill.slice(k * 10, k * 10 + 10) :+ cuts(k)) ++ fill.slice(30, 33)
    val base = body.mkString(" ")
    val d = docs(1L -> base, 2L -> s"pre $base")
    val got = graft.ops.Dedup.cdcChunks(d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4))).toMap
    // 3 cut tokens → 4 chunks per doc; only the FIRST chunk of doc 2
    // differs (it absorbs the prepended token) — chunks 2..4 realign
    assert(got(1L)._1 == 4 && got(2L)._1 == 4, s"got $got")
    assert(got(1L)._2 == 3 && got(2L)._2 == 3,
      s"CDC must re-find the 3 unshifted chunks: $got")
    // fixed 10-token windows on the same corpus: the 1-token shift
    // misaligns every window — zero duplicate chunks
    val fixed = graft.ops.Dedup.chunkDupFraction(d)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(fixed.values.forall(_ == 0L),
      s"fixed chunking must not match across the shift: $fixed")
  }

  test("bruteForceTopK ranks the planted duplicate first") {
    val e = embTable(
      1L -> vec(1), 2L -> vec(1, flip = 3), 3L -> vec(7), 4L -> vec(13), 5L -> vec(29))
    val top = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 1), k = 2)
      .orderBy(col("cosine").desc).collect()
    assert(top.length == 2)
    assert(top(0).getAs[Long]("neighbor_id") == 2L)
  }

  test("ivfTopK with all-covering probes matches brute force") {
    val e = embTable((1L to 20L).map(i => i -> vec(i.toInt)): _*)
    val q = e.filter(col("vec_id") <= 2)
    val cent = e.filter(col("vec_id") <= 4)
    val ivf = Similarity.ivfTopK(e, q, cent, nProbe = 4, k = 3).collect()
    val bf = Similarity.bruteForceTopK(e, q, k = 3).collect()
    // probing ALL cells (nProbe = nCent) makes IVF exact
    assert(ivf.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      bf.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("filteredIvfTopK: filter-then-rank finds the admissible neighbor " +
      "a post-filtered top-k would drop; all-allowed equals plain IVF") {
    // corpus: 2 is the query's global top-1, 3 the runner-up, 4 far.
    // one centroid, nProbe=1 → every vector is a candidate.
    val e = embTable(
      2L -> vec(1, flip = 3), 3L -> vec(1, flip = 5), 4L -> vec(7),
      10L -> vec(1))
    val q = e.filter(col("vec_id") === 10)
    val cent = e.filter(col("vec_id") === 2)
    import spark.implicits._
    val allowed = Seq(3L, 4L).toDF("vec_id")
    val got = Similarity.filteredIvfTopK(e, q, cent, allowed,
      nProbe = 1, k = 1).collect()
    // global top-1 is the EXCLUDED id 2 — post-filtering a k=1 result
    // would return nothing; filtered search ranks the admissible set
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 3L)), s"got ${got.mkString(",")}")
    // an all-allowing predicate reduces to the unfiltered operator
    val all = e.select(col("vec_id"))
    val withAll = Similarity.filteredIvfTopK(e, q, cent, all,
      nProbe = 1, k = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Similarity.ivfTopK(e, q, cent, nProbe = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withAll == plain)
  }

  test("mmrDiversify: the twin of the top hit loses its rank-2 slot to " +
      "a distinct result; first pick is pure relevance") {
    import spark.implicits._
    // q=[1,0,0,0]; 2 and 3 are near-twins close to q; 4 is distinct.
    // plain top-3 by cosine: [2, 3, 4] — MMR must yield [2, 4, 3]
    val e = Seq(
      (2L, Seq(0.9f, 0.10f, 0f, 0f)),
      (3L, Seq(0.9f, 0.11f, 0f, 0f)),
      (4L, Seq(0.5f, 0f, 0.8f, 0f)),
      (10L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 10)
    val got = graft.ops.Similarity.mmrDiversify(e, q, poolK = 3, selectK = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(2), r.getLong(1)))
    assert(got.toSeq == Seq((1, 2L), (2, 4L), (3, 3L)), s"got ${got.toSeq}")
    // rank-1 score is the raw cosine (pure relevance by contract)
    val plain = graft.ops.Similarity.bruteForceTopK(e, q, k = 1)
      .head().getAs[Double]("cosine")
    val r1 = graft.ops.Similarity.mmrDiversify(e, q, poolK = 3, selectK = 1)
      .head().getAs[Double]("mmr_score")
    assert(r1 == plain)
  }

  /** MMR as the relational unroll it was before the per-query greedy:
    * selectK − 1 steps of anti-join the picked set, max-sim against it
    * and one argmax window per query, over a checkpointed pool and a
    * checkpointed pool × pool similarity table. */
  private def referenceMmr(corpus: DataFrame, queries: DataFrame,
      poolK: Int, selectK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = Similarity.bruteForceTopK(corpus, queries, poolK)
      .localCheckpoint(false)
    val c = Similarity.withNorm(corpus, "vec_id", "embedding")
    val pairs = cands.select(col("query_id"), col("neighbor_id").as("na"))
      .join(cands.select(col("query_id"), col("neighbor_id").as("nb")),
        Seq("query_id"))
      .filter(col("na") =!= col("nb"))
      .join(c.select(col("vec_id").as("na"), col("e").as("ea"),
        col("nrm").as("nra")), "na")
      .join(c.select(col("vec_id").as("nb"), col("e").as("eb"),
        col("nrm").as("nrb")), "nb")
      .select(col("query_id"), col("na"), col("nb"),
        graft.functions.Exact.round(graft.functions.VectorOps.cosineWithNorms(
          col("ea"), col("eb"), col("nra"), col("nrb")), 6).as("sim"))
      .localCheckpoint(false)
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    var selected = cands
      .withColumn("__rn", row_number().over(byScore))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("neighbor_id"),
        lit(1).as("rank"), col("cosine").as("mmr_score"))
    for (i <- 2 to selectK) {
      val picked = selected.select(col("query_id"), col("neighbor_id"))
      val remaining = cands.join(picked,
        Seq("query_id", "neighbor_id"), "left_anti")
      val msim = pairs
        .join(picked.withColumnRenamed("neighbor_id", "nb"),
          Seq("query_id", "nb"))
        .groupBy(col("query_id"), col("na").as("neighbor_id"))
        .agg(max(col("sim")).as("__msim"))
      val byMmr = Window.partitionBy(col("query_id"))
        .orderBy(col("__score").desc, col("neighbor_id"))
      val pick = remaining
        .join(msim, Seq("query_id", "neighbor_id"))
        .withColumn("__score",
          lit(0.5) * col("cosine") - lit(0.5) * col("__msim"))
        .withColumn("__rn", row_number().over(byMmr))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit(i).as("rank"), col("__score").as("mmr_score"))
      selected = selected.unionByName(pick)
    }
    selected
  }

  /** MMR rows as (query, rank, neighbor, raw score bits), in
    * (query, rank) order. */
  private def mmrRows(df: DataFrame) =
    df.orderBy("query_id", "rank").collect().toSeq.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("mmr_score"))))

  test("mmrDiversify equals the relational unroll bit for bit at sf0.01 " +
      "over (poolK, selectK) = (8,4), (3,3), (8,1), (8,8), (5,2)") {
    val sf001 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    val embs = Tables.embeddings(spark, sf001)
    val q = embs.filter(col("vec_id") < 10)
    for ((poolK, selectK) <- Seq((8, 4), (3, 3), (8, 1), (8, 8), (5, 2))) {
      val got = mmrRows(Similarity.mmrDiversify(embs, q, poolK, selectK))
      assert(got.size == 10 * selectK, s"($poolK, $selectK): ${got.size} rows")
      assert(got == mmrRows(referenceMmr(embs, q, poolK, selectK)),
        s"($poolK, $selectK) differs from the relational unroll")
    }
  }

  test("mmrDiversify: an MMR score tie goes to the lower neighbor_id, and " +
      "a pool shorter than selectK yields one row per pooled vector") {
    // q=[1,0,0,0]; 2 is the top hit; 7 and 4 mirror each other about
    // it, so their cosines to q and sims to 2 are equal: rank 2 ties
    // and must go to 4, though 7 comes first in the input
    val e = Seq(
      (2L, Seq(1f, 0f, 0f, 0f)),
      (7L, Seq(0.6f, 0.8f, 0f, 0f)),
      (4L, Seq(0.6f, -0.8f, 0f, 0f)),
      (10L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 10)
    val tie = mmrRows(Similarity.mmrDiversify(e, q, poolK = 3, selectK = 3))
    assert(tie.map(r => (r._2, r._3)) == Seq((1, 2L), (2, 4L), (3, 7L)),
      s"got $tie")
    assert(tie == mmrRows(referenceMmr(e, q, 3, 3)))
    // three vectors: each query pools the other two, below selectK = 4
    val short = e.filter(col("vec_id") =!= 2)
    val got = mmrRows(Similarity.mmrDiversify(short, short, poolK = 8, selectK = 4))
    assert(got.map(r => (r._1, r._2)) ==
      Seq(4L, 7L, 10L).flatMap(qid => Seq((qid, 1), (qid, 2))), s"got $got")
    assert(got == mmrRows(referenceMmr(short, short, 8, 4)))
  }

  test("mmrDiversify names itself, both bounds and the values it got " +
      "when selectK is out of range") {
    val e = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    for ((poolK, selectK) <- Seq((8, 0), (3, 4))) {
      val err = intercept[IllegalArgumentException](
        Similarity.mmrDiversify(e, e, poolK, selectK))
      assert(err.getMessage.contains("mmrDiversify needs 1 <= selectK <= " +
        s"poolK, got selectK = $selectK, poolK = $poolK"), err.getMessage)
    }
  }

  test("ivfTopK recall on real embeddings; probing all cells is exact") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 5)
    val cents = embs.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, q, k = 5))
    val probeAll = pairs(Similarity.ivfTopK(embs, q, cents, nProbe = 16, k = 5))
    assert(probeAll == exact, "probing every cell must equal brute force")
    val probe4 = pairs(Similarity.ivfTopK(embs, q, cents, nProbe = 4, k = 5))
    val recall = probe4.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.15, // near-random vectors: ~nProbe/nCells of corpus seen
      s"recall $recall collapsed — candidate routing broken")
  }

  test("hardNegativesIvf: probing every cell equals exhaustive mining; " +
      "restricted probes keep true cosines with sane recall") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 10)
    val cents = embs.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.hardNegatives(embs, q, k = 5))
    // nProbe = nCells covers the corpus → identical to the exhaustive form
    val probeAll = pairs(Similarity.hardNegativesIvf(embs, q, cents,
      nProbe = 16, k = 5))
    assert(probeAll == exact, "probing every cell must equal exhaustive mining")
    val probe4 = Similarity.hardNegativesIvf(embs, q, cents, nProbe = 4, k = 5)
    val recall = pairs(probe4).intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.15, // near-random vectors: ~nProbe/nCells of corpus seen
      s"recall $recall collapsed — candidate routing broken")
    // every emitted score is the true cosine (IVF restricts candidates,
    // never perturbs scores) and never pairs same-label vectors
    val bf = Similarity.hardNegatives(embs, q, k = embs.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (r <- probe4.collect())
      assert(bf((r.getLong(0), r.getLong(1))) == r.getDouble(2),
        "IVF-mined scores must be true cosines over wrong-label pairs")
  }

  test("maxSimScoresIvf: probing every cell equals exhaustive MaxSim; " +
      "restricted probes only ever lower scores") {
    val embs = Tables.embeddings(spark, sfDir)
    val cents = embs.filter(col("vec_id") < 16)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = scores(Similarity.maxSimScores(embs, embs))
    val probeAll = scores(Similarity.maxSimScoresIvf(embs, embs, cents,
      nProbe = 16))
    assert(probeAll == exact, "probing every cell must equal exhaustive MaxSim")
    val probe4 = scores(Similarity.maxSimScoresIvf(embs, embs, cents, nProbe = 4))
    assert(probe4.nonEmpty && probe4.size <= exact.size)
    for ((k, v) <- probe4)
      assert(v <= exact(k) + 1e-9,
        s"candidate restriction can only lower a MaxSim score: $k $v > ${exact(k)}")
  }

  test("lshTopK: planted duplicate lands in the same bucket; results are a " +
      "subset of brute-force candidates with true cosines") {
    val e = embTable(
      (1L -> vec(1)) +: (2L -> vec(1, flip = 3)) +:
        (3L to 30L).map(i => i -> vec(i.toInt)): _*)
    val q = e.filter(col("vec_id") === 1)
    val lsh = Similarity.lshTopK(e, q, nPlanes = 8, k = 5).collect()
    assert(lsh.map(_.getAs[Long]("neighbor_id")).contains(2L),
      "near-identical vector must share all sign bits")
    val bf = Similarity.bruteForceTopK(e, q, k = 29).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    for (r <- lsh)
      assert(bf(r.getAs[Long]("neighbor_id")) == r.getAs[Double]("cosine"),
        "LSH scores must be true cosines")
  }

  test("pqEncode assigns every codeword vector to itself (zero distortion)") {
    val embs = Tables.embeddings(spark, sfDir)
    val codebook = embs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
    val codes = Similarity.pqEncode(codebook, codebook).collect()
    assert(codes.length == 16 * 8)
    assert(codes.forall(r => r.getAs[Long]("cid") == r.getAs[Long]("vec_id")),
      "a codeword's nearest codeword must be itself in every subspace")
  }

  test("pqTopK recall on real embeddings is above the quantization floor") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 5)
    val codebook = embs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, q, k = 5))
    val pq = pairs(Similarity.pqTopK(embs, q, codebook, k = 5))
    assert(pq.size == exact.size, "PQ must return a full top-k per query")
    // sanity floor, not a quality claim: a 16-codeword book on
    // near-random 64-dim vectors quantizes coarsely (recall ~0.1 here);
    // broken routing/scoring lands at ~k/n ≈ 0.002
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.05,
      s"recall $recall collapsed — encode or ADC scoring broken")
  }

  test("OPQ rotation: orthonormal, strictly lowers trained-PQ " +
      "distortion on an anisotropic corpus, non-inferior on the " +
      "isotropic one") {
    import spark.implicits._
    // anisotropic trap: ALL the variance lives in dims 0..7 — exactly
    // plain PQ's first contiguous subspace, so its 16 codewords must
    // quantize an 8-dim energetic blob while the other 7 subspaces
    // idle. Balanced eigenvalue allocation spreads the 8 energetic
    // principal directions one per subspace.
    val rnd = new scala.util.Random(7)
    val aniso = (0 until 400).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        rnd.nextGaussian() * (if (j < 8) 10.0 else 0.1)))
    }.toDF("vec_id", "embedding")
    val r = Similarity.opqRotation(aniso, m = 8, sample = 400)
    for (i <- 0 until 64; j <- i until 64) {
      val d = (0 until 64).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"R not orthonormal at ($i,$j): $d")
    }
    val rotated = Similarity.rotate(aniso, r)
    val dPlain = Similarity.pqDistortion(
      aniso, Similarity.pqTrain(aniso, iters = 2))
    val dOpq = Similarity.pqDistortion(
      rotated, Similarity.pqTrain(rotated, iters = 2))
    assert(dOpq < dPlain,
      s"OPQ must beat plain PQ on anisotropic data: $dOpq !< $dPlain")
    // the gate corpus is near-isotropic (random unit vectors): the
    // rotation buys ~nothing there, but must not hurt
    val embs = Tables.embeddings(spark, sfDir)
    val rr = Similarity.rotate(embs, Similarity.opqRotation(embs))
    val dRaw = Similarity.pqDistortion(
      embs, Similarity.pqTrain(embs, iters = 2))
    val dRot = Similarity.pqDistortion(
      rr, Similarity.pqTrain(rr, iters = 2))
    assert(dRot <= dRaw * 1.05,
      s"rotation degraded the isotropic corpus: $dRot vs $dRaw")
  }

  test("IVFADC residual codebooks: tighter than raw-vector PQ at the " +
      "same budget, recall at fixed probe not below plain IVF-PQ, and " +
      "k ≥ cell-size probe-all is exact") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 5)
    val cents = embs.filter(col("vec_id") < 16)
    val resCb = Similarity.residualTrain(embs, cents, m = 8, k = 16, iters = 2)
    val plainCb = Similarity.pqTrain(embs, m = 8, k = 16, iters = 2)
    // distortion: residual quantization must beat raw-vector PQ at the
    // identical (m, k) budget — the defining property of IVFADC
    val dRes = Similarity.residualDistortion(embs, cents, resCb)
    val dPlain = Similarity.pqDistortion(embs, plainCb)
    assert(dRes < dPlain,
      s"residual codebooks must tighten reconstruction: $dRes !< $dPlain")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, q, k = 5))
    def recall(s: Set[(Long, Long)]) =
      s.intersect(exact).size.toDouble / exact.size
    val rRes = recall(pairs(
      Similarity.ivfAdcResidualTopK(embs, q, cents, resCb, nProbe = 4)))
    val rPlain = recall(pairs(
      Similarity.ivfPqTopK(embs, q, cents, plainCb, nProbe = 4)))
    assert(rRes >= rPlain,
      s"residual ADC recall $rRes below plain IVF-PQ $rPlain at nProbe=4")
    // exactness anchor: with k ≥ the largest cell's membership, every
    // residual seeds its own codeword — zero distortion, and probing
    // every cell reproduces brute force exactly
    val subCorpus = embs.filter(col("vec_id") < 40)
    val maxCell = Similarity.cellAssignments(subCorpus, cents, keep = 1)
      .groupBy("cid").count().agg(max("count")).head().getLong(0).toInt
    val cbX = Similarity.residualTrain(subCorpus, cents, m = 8,
      k = maxCell, iters = 1)
    val dX = Similarity.residualDistortion(subCorpus, cents, cbX)
    assert(dX < 1e-9, s"k ≥ cell-size cells must quantize exactly: $dX")
    val exactSub = pairs(Similarity.bruteForceTopK(subCorpus, q, k = 5))
    val probeAll = pairs(Similarity.ivfAdcResidualTopK(subCorpus, q, cents,
      cbX, nProbe = 16))
    assert(probeAll == exactSub,
      "zero-distortion probe-all residual ADC must equal brute force")
  }

  test("lshTopK multi-probe: deeper probing is monotone in recall and " +
      "full-depth probing equals brute force") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(embs, q, k = 5))
    // nProbe = nPlanes xors every mask -> every bucket probed -> exact
    val full = pairs(Similarity.lshTopK(embs, q, nPlanes = 8, k = 5, nProbe = 8))
    assert(full == exact, "probing every bucket must equal brute force")
    val d1 = pairs(Similarity.lshTopK(embs, q, nPlanes = 8, k = 5, nProbe = 1))
    val d2 = pairs(Similarity.lshTopK(embs, q, nPlanes = 8, k = 5, nProbe = 2))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    assert(recall(d2) >= recall(d1),
      s"depth-2 recall ${recall(d2)} < depth-1 recall ${recall(d1)}")
  }

  test("repetitionSignals: degenerate repetition scores high, varied text low") {
    val d = docs(
      1L -> "spam spam spam spam spam spam",      // one token repeated
      2L -> "alpha beta gamma delta epsilon zeta", // all distinct
      3L -> "go stop go stop go stop")             // repeated bigram cycle
    val r = TextAnalysis.repetitionSignals(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 6)
    assert(r(1L).getDouble(3) == 1.0)              // top_token_frac
    assert(r(1L).getDouble(4) == 1.0 - 1.0 / 5.0)  // 5 bigrams, 1 distinct
    assert(r(2L).getDouble(2) == 1.0)              // distinct_frac
    assert(r(2L).getDouble(4) == 0.0)              // no repeated bigram
    assert(r(3L).getDouble(2) < 0.5 && r(3L).getDouble(4) > 0.5)
  }

  test("contamination: doc sharing benchmark shingles scores > disjoint doc") {
    val d = Tables.documents(spark, sfDir)
    val out = TextAnalysis.contamination(d)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every score is a valid fraction and hits never exceed grams
    assert(rows.forall { r =>
      val (g, h, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      h >= 0 && h <= g && c >= 0.0 && c <= 1.0
    })
    // benchmark docs themselves are excluded from the scored output
    import graft.functions.Hashing.hash60
    val benchIds = d.select(col("doc_id"))
      .filter(hash60(concat(lit("bench:"), col("doc_id").cast("string"))) % 10 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet.intersect(benchIds).isEmpty)
    // shared vocabulary in the synthetic corpus must produce some overlap
    assert(rows.exists(_.getDouble(3) > 0.0))
  }

  test("weightedSample is deterministic and weight-biased") {
    import graft.ops.Splits
    val d = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    val s1 = Splits.weightedSample(d, "doc_id", "n_chars", 50).collect()
    val s2 = Splits.weightedSample(d, "doc_id", "n_chars", 50).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq)
    assert(s1.length == 50)
    // length-weighted sampling must pull the sample mean length above the
    // corpus mean (weights span ~50..500 chars)
    val corpusMean = d.agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = s1.map(_.getLong(1)).sum.toDouble / s1.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("importanceResample recovers a planted target-domain shift " +
      "and is deterministic") {
    import graft.ops.Splits
    // raw corpus: 80% 'web' docs on vocabulary A, 20% 'wiki' docs on
    // vocabulary B, one shared token so every doc has nonzero target
    // mass (w > 0) and stays eligible. Target = the wiki domain; a
    // DSIR resample must recover it — wiki weights dwarf web weights
    // because web grams' target-bucket counts come only from the
    // shared token.
    val docs = (0 until 200).map { i =>
      val isWiki = i % 5 == 0
      val vocab =
        if (isWiki) Seq("alpha", "beta", "gamma", "delta")
        else Seq("one", "two", "three", "four")
      val words = (0 until 30).map(j => vocab((i * 7 + j) % vocab.length))
      (i.toLong, if (isWiki) "wiki" else "web",
        (words :+ "the").mkString(" "))
    }.toDF("doc_id", "dom", "text")
    val s1 = Splits.importanceResample(
      docs, col("dom") === "wiki", "doc_id", "text", 50).collect()
    val s2 = Splits.importanceResample(
      docs, col("dom") === "wiki", "doc_id", "text", 50).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq,
      "resample not deterministic")
    assert(s1.length == 50)
    val wikiFrac = s1.count(_.getAs[String]("dom") == "wiki") / 50.0
    // raw wiki share is 0.20; the resampler must pull the sample far
    // toward the target domain
    assert(wikiFrac >= 0.7,
      s"resample failed to recover the target shift: wiki frac $wikiFrac")
    // every selected wiki doc outweighs every selected web doc
    val (wikiW, webW) = s1.partition(_.getAs[String]("dom") == "wiki")
    if (wikiW.nonEmpty && webW.nonEmpty)
      assert(wikiW.map(_.getAs[Double]("w")).min >
        webW.map(_.getAs[Double]("w")).max,
        "wiki weights do not dominate web weights")
  }

  test("importanceBuckets: hash-split batches assemble to the one-shot " +
      "state, and the finish over the union equals the one-shot resample") {
    import graft.ops.Splits
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val tgt = col("lang") === "de"
    val oneShot = Splits.importanceBuckets(docs, tgt, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    // a hash split partitions DOCUMENTS → per-batch (doc, bucket) rows
    // are disjoint and their union IS the one-shot table (replay safety
    // then comes from batch-owned overwrite partitions, which the
    // driver gate exercises on disk)
    val parts = (0 until 3).map(b =>
      Splits.importanceBuckets(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), tgt,
        "doc_id", "text"))
    val union = parts.reduce(_ unionByName _)
    assert(union.collect().map(_.toString).sorted.toSeq == oneShot,
      "per-batch bucket counts diverged from the one-shot state")
    val direct = Splits.importanceResample(docs, tgt, "doc_id", "text", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val folded = Splits.importanceFromBuckets(union, docs, "doc_id", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(direct == folded, "finish over the union diverged from one-shot")
  }

  test("topTerms ranks rare-but-frequent terms first, k per doc") {
    val d = docs(
      1L -> "zebra zebra zebra common common",
      2L -> "common common common plain plain",
      3L -> "plain common zebra other words here")
    val out = TextAnalysis.topTerms(d, k = 2).collect()
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 2))
    // doc 1: 'zebra' (tf=3, df=2) must outrank 'common' (tf=2, df=3)
    val d1 = out.filter(_.getLong(0) == 1L).map(_.getString(1)).toSeq
    assert(d1.head == "zebra", s"got $d1")
    // score is tf*N/df exactly
    val z = out.filter(r => r.getLong(0) == 1L && r.getString(1) == "zebra").head
    assert(z.getDouble(4) == 3.0 * 3 / 2)
  }

  test("knBigram: hand-computed Kneser-Ney fractions; continuation " +
      "diversity separates equal-count bigrams (the backoff-mass trap " +
      "raw MLE cannot see)") {
    // tokens: a x a x a x a y a y a y b x c x d x
    // c(a,x)=c(a,y)=c(x,a)=3; context a: c_v=6, N1+(a·)=2; x follows
    // {a,b,c,d} → N1+(·x)=4, y only {a} → N1+(·y)=1; N1+(··)=10
    val d = docs(1L -> "a x a x a x a y a y a y b x c x d x")
    val got = graft.ops.TextAnalysis.knBigram(d, minCount = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("p_num"), r.getAs[Long]("p_den"),
          r.getAs[Double]("p_kn"))).toMap
    assert(got.keySet == Set(("a", "x"), ("a", "y"), ("x", "a")), s"$got")
    // (a,x): (4·3−3)·10 + 3·2·4 = 114 over 4·6·10 = 240
    assert(got(("a", "x")) == ((114L, 240L, 0.475)))
    // (a,y): same observed count, poorer continuation → 96/240
    assert(got(("a", "y")) == ((96L, 240L, 0.4)))
    // (x,a): context x has c_v=5, N1+(x·)=3; N1+(·a)=2 → 108/200
    assert(got(("x", "a")) == ((108L, 200L, 0.54)))
    // the trap: equal c_vw and c_v, KN still ranks x above y after 'a'
    assert(got(("a", "x"))._3 > got(("a", "y"))._3)
  }

  test("budgetWaterfill: capped strata taken whole, overflow re-poured " +
      "over open ones, floor leftovers honestly unallocated") {
    import graft.ops.Splits
    import spark.implicits._
    // strata capacities 5, 10, 100; budget 60:
    // r1: share 20 → a=5 (capped), b=10 (capped), c=20; used 35
    // r2: open {c}: share 25 → c=45; used 60. r3: share 0.
    val d = (1L to 115L).map(i =>
      (i, if (i <= 5) "a" else if (i <= 15) "b" else "c"))
      .toDF("doc_id", "grp")
    val out = Splits.budgetWaterfill(d, "doc_id", "grp", budget = 60L)
    val alloc = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(alloc == Map("a" -> 5L, "b" -> 10L, "c" -> 45L), s"got $alloc")
    assert(out.select("alloc").where(col("grp") === "c").head().getLong(0) == 45L)
    // budget exceeding total capacity: everything taken, nothing more
    val all = Splits.budgetWaterfill(d, "doc_id", "grp", budget = 1000L)
    assert(all.count() == 115L)
    // floor leftover: budget 7 over 3 open strata → share 2 each round;
    // rounds converge without over-allocating past the budget
    val small = Splits.budgetWaterfill(d, "doc_id", "grp", budget = 7L)
    assert(small.count() <= 7L)
    // stable on rerun
    val again = Splits.budgetWaterfill(d, "doc_id", "grp", budget = 60L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("quota keeps at most cap rows per stratum, stably") {
    import graft.ops.Splits
    val d = Tables.documents(spark, sfDir).select("doc_id", "source")
    val out = Splits.quota(d, "doc_id", "source", 15)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val orig = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((s, n) <- orig)
      assert(bySource(s) == math.min(n, 15L), s"$s: ${bySource(s)}")
    // stable: same selection on rerun
    val again = Splits.quota(d, "doc_id", "source", 15)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("approx sketches land within their documented error bounds") {
    import graft.ops.Sketches
    val ev = Tables.events(spark, sfDir)
    val approx = Sketches.approxSummary(
        ev, Seq("event_type"), "user_id", "value", Seq(0.5), rsd = 0.05)
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = Sketches.exactSummary(
        ev, Seq("event_type"), "user_id", "value", Seq(0.5))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    for (k <- exact.keys) {
      val (a, e) = (approx(k), exact(k))
      val (ad, ed) = (a.getLong(1).toDouble, e.getLong(1).toDouble)
      assert(math.abs(ad - ed) <= 3 * 0.05 * ed + 1,
        s"$k: approx distinct $ad vs exact $ed out of 3*rsd")
      // percentile_approx rank error <= n/accuracy; with accuracy 10000
      // and n ~ thousands the approx median must sit between the exact
      // 45th and 55th percentiles
      val med = a.getList[Double](2).get(0)
      val lo = ev.filter(col("event_type") === k)
        .agg(percentile(col("value"), lit(0.45))).head().getDouble(0)
      val hi = ev.filter(col("event_type") === k)
        .agg(percentile(col("value"), lit(0.55))).head().getDouble(0)
      assert(med >= lo && med <= hi, s"$k: approx median $med outside [$lo,$hi]")
    }
  }

  test("packSequences fills budgets in order within hash lanes") {
    import graft.ops.Splits
    val d = Tables.documents(spark, sfDir)
    val out = Splits.packSequences(
      d, "doc_id", size(graft.functions.Hashing.tokens(col("text"))),
      budget = 200, buckets = 4).collect()
    assert(out.map(_.getLong(0)).toSet.size == out.length) // every doc once
    // exclusive cumsum: within a lane, start_tok is the sum of prior docs
    val byLane = out.groupBy(_.getLong(2))
    assert(byLane.keySet.subsetOf((0L until 4L).toSet))
    for ((_, rows) <- byLane) {
      val sorted = rows.sortBy(_.getLong(0))
      var acc = 0L
      for (r <- sorted) {
        assert(r.getLong(3) == acc, s"start_tok ${r.getLong(3)} != $acc")
        assert(r.getLong(4) == acc / 200)
        acc += r.getLong(1)
      }
    }
  }
  test("chunkDocuments: closed-form chunk grid, overlap, tail reached, " +
      "no token dropped, empty doc emits nothing") {
    import graft.ops.Splits
    val d = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // 50 tokens
      (2L, (1 to 10).map(i => s"u$i").mkString(" ")), // 10 tokens
      (3L, (1 to 32).map(i => s"v$i").mkString(" ")), // exactly width
      (4L, ""),
      (5L, " \t\n ") // whitespace-only: trim-based guards miss \t\n
    ).toDF("doc_id", "text")
    val out = Splits.chunkDocuments(d, width = 32, stride = 24)
      .orderBy("doc_id", "chunk_id").collect()
    // doc 1: ceil(max(50-32,0)/24)=1 → chunks 0 (32 tok) and 1 (26 tok)
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.length == 2)
    assert(d1(0).getLong(2) == 0L && d1(0).getLong(3) == 32L)
    assert(d1(1).getLong(2) == 24L && d1(1).getLong(3) == 26L)
    assert(d1(1).getString(4).split(" ").last == "t50", "tail not reached")
    // overlap: chunk 1 starts inside chunk 0's window (tokens 25..32)
    assert(d1(1).getString(4).split(" ").head == "t25")
    // docs 2 and 3: one chunk, full doc
    assert(out.count(_.getLong(0) == 2L) == 1)
    assert(out.filter(_.getLong(0) == 2L).head.getLong(3) == 10L)
    assert(out.count(_.getLong(0) == 3L) == 1)
    assert(out.filter(_.getLong(0) == 3L).head.getLong(3) == 32L)
    // blank doc: ZERO chunks. The guard tests the text for a
    // non-whitespace char (rlike "\S"), not the token count — split("")
    // is [""] (size 1) in both engines, so a count guard would emit a
    // phantom 1-token chunk of the empty token.
    assert(out.count(_.getLong(0) == 4L) == 0)
    assert(out.count(_.getLong(0) == 5L) == 0)
  }

  test("dedupCascade: each stage removes exactly its own duplicate " +
      "class, funnel counts chain") {
    import graft.ops.Dedup
    val near1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val near2 = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val d = Seq(
      (1L, "alpha text one", "https://a.com/x"),
      (2L, "beta text two", "HTTP://www.a.com/x/"),   // url-dup of 1
      (3L, "gamma text three", "https://b.com/y"),
      (4L, "gamma text three", "https://b.com/z"),    // exact-dup of 3
      (5L, near1, "https://c.com/p"),
      (6L, near2, "https://c.com/q")                  // near-dup of 5
    ).toDF("doc_id", "text", "url")
    val got = Dedup.dedupCascade(d, "url", threshold = 0.5)
      .orderBy("stage").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("1_url", 6L, 1L, 5L),
      ("2_exact", 5L, 1L, 4L),
      ("3_neardup", 4L, 1L, 3L)), got.mkString(", "))
  }

  test("assignClusterSafe: no near-dup pair straddles a split; " +
      "singletons land where plain assign puts them") {
    import graft.ops.{Dedup, Splits}
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.5)
      .select("id_a", "id_b")
    val out = Splits.assignClusterSafe(docs, pairs)
    val bySplit = out.select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty, "corpus must contain near-dup pairs for this test")
    for ((a, b) <- ps)
      assert(bySplit(a) == bySplit(b),
        s"pair ($a, $b) straddles ${bySplit(a)}/${bySplit(b)}")
    // every doc exactly once; singleton docs (cluster_id == doc_id)
    // bucket exactly like the plain per-doc assign
    assert(out.count() == docs.count())
    val plain = Splits.assign(docs, "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val singletons = out.filter(col("cluster_id") === col("doc_id"))
      .select("doc_id", "split").collect()
    assert(singletons.nonEmpty)
    for (r <- singletons)
      assert(r.getString(1) == plain(r.getLong(0)),
        s"singleton ${r.getLong(0)} diverges from plain assign")
  }

  test("shardBalance: snake deal balances shard token totals and is a " +
      "pure function of the size rank") {
    import graft.ops.Splits
    val d = (1 to 64).map(i => (i.toLong, i * 10L)).toDF("doc_id", "n")
    val out = Splits.shardBalance(d, "doc_id", col("n"), shards = 4)
      .collect()
    assert(out.length == 64)
    // every shard gets exactly one doc per consecutive band of 4 ranks
    val byRank = out.sortBy(_.getLong(2))
    for (band <- byRank.grouped(4))
      assert(band.map(_.getLong(3)).toSet == Set(0L, 1L, 2L, 3L))
    // zigzag: band 0 deals 0,1,2,3; band 1 deals 3,2,1,0
    assert(byRank.take(4).map(_.getLong(3)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(byRank.slice(4, 8).map(_.getLong(3)).toSeq == Seq(3L, 2L, 1L, 0L))
    // balance: with sizes 10..640 the snake keeps totals within one
    // band's spread (4 docs × 10 apart → ≤ 40 per band, bands cancel)
    val totals = out.groupBy(_.getLong(3)).map(_._2.map(_.getLong(1)).sum)
    assert(totals.max - totals.min <= 40L,
      s"shard totals too far apart: $totals")
    // cum_tokens is the inclusive running total in rank order
    var acc = 0L
    for (r <- byRank) { acc += r.getLong(1); assert(r.getLong(4) == acc) }
  }

  test("Fusion.rrf: hand-computed reciprocal contributions, union of " +
      "ids, absent-list rank reported as 0") {
    import graft.ops.Fusion
    val a = Seq((10L, 0.9), (20L, 0.8), (30L, 0.7)).toDF("id", "score")
    val b = Seq((20L, 0.95), (40L, 0.5)).toDF("id", "score")
    val got = Fusion.rrf(Seq(a, b)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val g = (r: Int) => BigDecimal(1.0 / (60.0 + r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(got.keySet == Set(10L, 20L, 30L, 40L))
    assert(got(20L)._1 == 2L && got(20L)._2 == 1L)
    assert(got(20L)._3 == (g(2) + g(1)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // id 10 only in list a: rank_1 reported 0, contribution only from a
    assert(got(10L) == ((1L, 0L, g(1).toDouble)), s"got ${got(10L)}")
    assert(got(40L) == ((0L, 2L, g(2).toDouble)), s"got ${got(40L)}")
  }

  test("maskPii masks emails, ssn-ids, long digit runs and counts matches") {
    val df = docs(
      (1L, "contact john.doe+x@ex-ample.co.uk or 555-12-3456 ref 12345678 ok"),
      (2L, "no pii here, just 123 and 9999 short runs"))
    val out = TextAnalysis.maskPii(df).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("n_emails") == 1 && r1.getAs[Long]("n_ids") == 1 &&
      r1.getAs[Long]("n_numbers") == 1)
    assert(r1.getAs[String]("masked") ==
      "contact <EMAIL> or <ID> ref <NUM> ok")
    val r2 = out(1)
    assert(r2.getAs[Long]("n_emails") == 0 && r2.getAs[Long]("n_ids") == 0 &&
      r2.getAs[Long]("n_numbers") == 0)
    assert(r2.getAs[String]("masked") == "no pii here, just 123 and 9999 short runs")
  }

  test("clean normalizes unicode punctuation, strips control chars, collapses whitespace") {
    val df = docs(
      (1L, "“curly” ‘quotes’ – and—dashes nbsp"),
      (2L, "ctrlcharshere\t tabs \n  and   runs  "),
      (3L, "already clean"))
    val out = TextAnalysis.clean(df).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") ==
      "\"curly\" 'quotes' - and-dashes nbsp")
    assert(out(1).getAs[String]("clean_text") == "ctrlcharshere tabs and runs")
    assert(out(2).getAs[String]("clean_text") == "already clean")
    // sizes: n_raw counts the original, n_clean the normalized text
    assert(out(2).getAs[Long]("n_raw") == 13L &&
      out(2).getAs[Long]("n_clean") == 13L)
    assert(out(1).getAs[Long]("n_clean") <
      out(1).getAs[Long]("n_raw"))
  }

  test("pqRerankTopK: exact rerank beats coarse PQ recall, scores are exact") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = embs.filter(col("vec_id") < 10)
    val cb = embs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(embs, q)
    val bruteSet = pairs(brute)
    val pqSet = pairs(Similarity.pqTopK(embs, q, cb))
    val rr = Similarity.pqRerankTopK(embs, q, cb)
    val rrSet = pairs(rr)
    assert((rrSet & bruteSet).size >= (pqSet & bruteSet).size,
      "rerank recall must not be below coarse PQ recall")
    // every rerank score equals the exact brute-force cosine
    val exact = brute.withColumnRenamed("cosine", "bc")
    val cmp = rr.join(exact, Seq("query_id", "neighbor_id"))
    assert(cmp.filter(col("cosine") =!= col("bc")).count() == 0)
  }

  test("chunkDupFraction: shared 10-token chunks are flagged corpus-wide") {
    def words(prefix: String) = (0 until 10).map(i => s"$prefix$i").mkString(" ")
    val a = words("a"); val b = words("b"); val c = words("c")
    val df = docs(
      (1L, s"$a $b"),          // chunks: A, B
      (2L, s"$a $c"),          // chunks: A, C
      (3L, words("z")),        // chunk: Z (unique)
      (4L, s"$b ${words("y").split(" ").take(5).mkString(" ")}")) // B + partial
    val out = Dedup.chunkDupFraction(df).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_chunks") == 2 &&
      out(1L).getAs[Double]("dup_chunk_frac") == 1.0) // A and B both shared
    assert(out(2L).getAs[Double]("dup_chunk_frac") == 0.5) // A shared, C not
    assert(out(3L).getAs[Double]("dup_chunk_frac") == 0.0)
    assert(out(4L).getAs[Long]("n_chunks") == 2 &&
      out(4L).getAs[Double]("dup_chunk_frac") == 0.5) // B shared, partial not
  }

  test("fuzzyJoin: length-banded pairs equal the naive levenshtein join") {
    import graft.ops.FuzzyJoin
    val df = docs(
      (1L, "cat cart carts dog dg a abc zebra"),
      (2L, "cat spark spars"))
    val got = FuzzyJoin.vocabPairs(df, maxDist = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // naive: full cross of the 10-token vocab
    val vocab = df.select(explode(split(col("text"), "\\s+")).as("t")).distinct()
    val naive = vocab.as("a").join(vocab.as("b"),
        col("a.t") < col("b.t") &&
        levenshtein(col("a.t"), col("b.t")) <= 2)
      .select(col("a.t"), col("b.t"),
        levenshtein(col("a.t"), col("b.t")).cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == naive, s"got ${got.size} naive ${naive.size}")
    // cross-length-bucket pairs must be present (a↔abc spans 2 buckets)
    assert(got.contains(("a", "abc", 2L)))
    assert(got.contains(("cart", "carts", 1L)))
  }

  test("hierarchical assignment: probing all groups equals flat " +
      "assignment exactly; probe1=2 agrees on most vectors at N*2*sqrt(k) cost") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = embs.filter(col("vec_id") < 16)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = asSet(Similarity.cellAssignments(embs, cents, keep = 1))
    // k1 = ceil(sqrt(16)) = 4 groups; probing all 4 must degenerate to
    // the flat ranking bit-for-bit (the exactness anchor)
    val all = asSet(Similarity.hierarchicalCellAssignments(
      embs, cents, keep = 1, probe1 = 4))
    assert(all == flat)
    // the standard approximate regime: most vectors keep their flat cell
    val p2 = asSet(Similarity.hierarchicalCellAssignments(
      embs, cents, keep = 1, probe1 = 2))
    val agree = p2.intersect(flat).size.toDouble / flat.size
    assert(agree >= 0.75, s"probe1=2 agreement $agree")
    assert(p2.map(_._1) == flat.map(_._1), "every vector assigned")
  }

  test("kmeansRefine: distortion non-increasing, trained cells beat seeds") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seeds = embs.filter(col("vec_id") < 16)
    val d0 = Similarity.distortion(embs,
      Similarity.kmeansRefine(embs, seeds, iters = 0))
    val d2 = Similarity.distortion(embs,
      Similarity.kmeansRefine(embs, seeds, iters = 2))
    val d5 = Similarity.distortion(embs,
      Similarity.kmeansRefine(embs, seeds, iters = 5))
    assert(d2 <= d0 + 1e-9, s"d0=$d0 d2=$d2")
    assert(d5 <= d2 + 1e-9, s"d2=$d2 d5=$d5")
    assert(d5 < d0, "training should strictly improve the seed cells here")
    // refined centroids keep the schema the IVF path expects
    val refined = Similarity.kmeansRefine(embs, seeds, iters = 2)
    assert(refined.columns.toSeq == Seq("cid", "e"))
    assert(refined.count() == 16)
  }

  test("trained IVF: results are true-cosine top-k over probed cells with sane recall") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = embs.filter(col("vec_id") < 10)
    val got = queries.TrainingData.annIvfTrained.run(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val brute = Similarity.bruteForceTopK(embs, q)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"trained-IVF recall too low: $recall")
  }

  test("duplicateClusters: pointer jumping converges a 64-node chain in " +
      "far fewer rounds than its diameter") {
    // path graph 0-1-2-…-63: neighbor-min alone needs ~63 rounds; with
    // the label-of-label shortcut ~log2(64)+slack. maxIters=10 would
    // produce WRONG labels without jumping.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(chain, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 64)
    assert(out.values.forall(_ == 0L), s"chain not fully converged: " +
      s"${out.filter(_._2 != 0L).take(5)}")
  }

  test("duplicateClusters throws, naming itself and maxIters, when the " +
      "last allowed round still changed the labels (the 64-node chain " +
      "at maxIters = 2)") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.duplicateClusters(chain, maxIters = 2))
    assert(e.getMessage.contains("duplicateClusters") &&
      e.getMessage.contains("maxIters = 2"), e.getMessage)
  }

  test("duplicateClusters with a reliable checkpointDir is result-" +
      "identical to the localCheckpoint path on the 64-node chain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(chain, maxIters = 10,
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 64 && out.values.forall(_ == 0L),
      s"reliable-checkpoint run diverged: ${out.filter(_._2 != 0L).take(5)}")
    // reliable checkpoints actually landed in the requested directory
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "no reliable checkpoint files written")
  }

  test("temperatureMix: sqrt weights upweight low-resource sources, " +
      "quotas respect budget and availability, selection is stable") {
    val df = ((1L to 900L).map(i => i -> "big") ++
      (1001L to 1100L).map(i => i -> "small"))
      .toDF("doc_id", "source")
    val out = graft.ops.Splits.temperatureMix(df, "doc_id", "source", 200L)
    val takes = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sqrt weights: w_big=30, w_small=10 → shares .75/.25 → 150/50;
    // proportional sampling would give small only 200*0.1 = 20
    assert(takes == Map("big" -> 150L, "small" -> 50L), s"got $takes")
    assert(out.count() <= 200)
    // stability: same rows on a rerun, and a grown corpus only ever
    // adds to a source's selection when its quota grows
    val again = graft.ops.Splits.temperatureMix(df, "doc_id", "source", 200L)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // plan: no source-partitioned window over the corpus (few sources =
    // few tasks); the per-source rank is the range-parallel global rank
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(source#\\d+,".r.findFirstIn(plan).isEmpty,
      s"corpus window collapsed to per-source tasks:\n$plan")
    assert(plan.contains("windowspecdefinition(__pid"), plan)
  }

  test("semanticDedup: in-cluster dups flagged, boundary member kept, " +
      "cross-cluster near-dups ignored by design") {
    def f(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // centroids on axes 0 / 1; cluster A holds a tight dup pair where
    // id 11 is MORE central (higher centroid cos) than id 12 → 11 drops;
    // id 13 is far from both A members (below threshold); ids 20/21 sit
    // in DIFFERENT clusters though mutually similar → not a pair
    val centroids = Seq(100L -> f(1, 0, 0, 0), 101L -> f(0, 1, 0, 0))
      .toDF("vec_id", "embedding")
    val embs = Seq(
      11L -> f(1, 0.05, 0, 0),    // A, near-centroid
      12L -> f(1, 0.25, 0, 0),    // A, boundary — dup with 11
      13L -> f(0.3, 0.1, 0.95, 0), // A (barely), orthogonal-ish to 11/12
      20L -> f(0.8, 0.7, 0, 0),   // A side of the diagonal
      21L -> f(0.7, 0.8, 0, 0)    // B side — similar to 20, different cell
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Dedup.semanticDedup(embs, centroids, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(3))).toMap
    assert(out.size == 5)
    assert(out(11L)._2, "more-central dup member must be flagged")
    assert(!out(12L)._2, "boundary member must survive")
    assert(!out(13L)._2, "sub-threshold cluster member must survive")
    assert(out(20L)._1 == 100L && out(21L)._1 == 101L)
    assert(!out(20L)._2 && !out(21L)._2,
      "cross-cluster pairs are out of scope by design")
  }

  test("clean corpus: zero near-dup pairs clusters to an empty table, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(empty).count() == 0)
  }

  test("repetitionSignals keeps one-token docs with zero dup-bigram fraction") {
    val out = TextAnalysis.repetitionSignals(docs((1L, "hello"), (2L, "a b a b")))
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_words") == 1 &&
      out(0).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(out(1).getAs[Double]("dup_bigram_frac") > 0.0)
  }

  test("ivfPqTopK: probing every cell equals plain PQ; restricted probes " +
      "stay inside probed cells with sane recall") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 5)
    val cents = embs.filter(col("vec_id") < 16)
    val codebook = embs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nProbe = nCells removes the IVF restriction → identical to pqTopK
    val all = pairs(Similarity.ivfPqTopK(embs, q, cents, codebook, nProbe = 16))
    val pq = pairs(Similarity.pqTopK(embs, q, codebook))
    assert(all == pq, "probing every cell must equal unrestricted PQ/ADC")
    // restricted probing: every returned neighbor must live in one of
    // the query's probed cells (the IVF contract)
    val probed = Similarity.cellAssignments(q, cents, keep = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val assigned = Similarity.cellAssignments(embs, cents, keep = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = pairs(Similarity.ivfPqTopK(embs, q, cents, codebook, nProbe = 4))
    assert(got.forall { case (qid, nid) => probed((qid, assigned(nid))) },
      "a neighbor outside the query's probed cells leaked through")
    val exact = pairs(Similarity.bruteForceTopK(embs, q, k = 5))
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.04, // IVF restriction × coarse PQ on near-random
      s"recall $recall collapsed — cell routing or ADC broken")
  }

  test("unigramSurprisal: integer log2 buckets from corpus frequencies, " +
      "exact on a hand-computed corpus") {
    // tf: a=6, b=2, z=1, q=1 → N=10; buckets: floor(log2(10 div tf)):
    // a → 10 div 6 = 1 → 0; b → 5 → 2; z,q → 10 → 3
    val out = TextAnalysis.unigramSurprisal(docs(
        (1L, "a a a a"), (2L, "a a b b"), (3L, "z q")))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(out(1L) == ((4L, 0L, 0L, 0.0)), s"got ${out(1L)}")
    assert(out(2L) == ((4L, 4L, 2L, 1.0)), s"got ${out(2L)}")
    assert(out(3L) == ((2L, 6L, 3L, 3.0)), s"got ${out(3L)}")
  }

  test("curriculum: contiguous near-equal phases, ordered easy-first, " +
      "integer boundaries; rank is range-parallel") {
    val df = Seq( // scores with ties — doc_id breaks them
      (1L, 0.9), (2L, 0.9), (3L, 0.8), (4L, 0.7), (5L, 0.7),
      (6L, 0.6), (7L, 0.5), (8L, 0.4), (9L, 0.4), (10L, 0.1))
      .toDF("doc_id", "score")
    val out = graft.ops.Splits.curriculum(df, "doc_id", "score", phases = 4)
    val rows = out.orderBy("curriculum_rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("curriculum_rank"), r.getAs[Long]("phase")))
    // rank order: score desc, id asc; phase sizes 3,2,3,2 (n=10, p=4)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    assert(rows.map(_._4).toSeq ==
      Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L, 3L, 4L, 4L))
    // phases are contiguous in rank and monotone in difficulty
    val byPhase = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
    assert(byPhase.forall { case (_, rs) => rs.max - rs.min + 1 == rs.length })
    // no single-task sort: the global rank comes from the two-phase plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"), plan)
  }

  test("pqTrain: per-subspace training strictly lowers reconstruction " +
      "distortion vs the fixed codebook; shape drops into pqTopK") {
    val embs = Tables.embeddings(spark, sfDir)
    val fixed = embs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
    val trained = Similarity.pqTrain(embs, iters = 2)
    assert(trained.count() == 16)
    assert(trained.select("embedding").head()
      .getSeq[Double](0).length == 64, "codewords must repack to 64 dims")
    val dFixed = Similarity.pqDistortion(embs, fixed)
    val dTrained = Similarity.pqDistortion(embs, trained)
    assert(dTrained < dFixed,
      s"training must lower PQ distortion: trained=$dTrained fixed=$dFixed")
    // the trained codebook drives the standard ADC top-k end to end
    val topk = Similarity.pqTopK(embs, embs.filter(col("vec_id") < 5),
      trained).collect()
    assert(topk.length == 25, s"expected 5 queries x k=5, got ${topk.length}")
  }

  test("hardNegatives: never returns self or a same-label neighbor, and " +
      "equals brute-force top-k with same-label hits removed") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 10)
    val labels = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.hardNegatives(embs, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (qid, nid, _) =>
      nid != qid && labels(nid) != labels(qid) },
      "a positive (same label or self) leaked into the negatives")
    // reference: exhaustive scores, drop same-label, window top-5
    import org.apache.spark.sql.expressions.Window
    val big = Similarity.bruteForceTopK(embs, q, k = embs.count().toInt)
      .withColumnRenamed("query_id", "qid")
    val lab = embs.select(col("vec_id"), col("label"))
    val want = big
      .join(lab.select(col("vec_id").as("qid"), col("label").as("ql")), "qid")
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        "neighbor_id")
      .filter(col("ql") =!= col("nl"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("neighbor_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == want.toSet)
  }

  test("bpeMerges: adjacent pairs counted corpus-wide, count-desc with " +
      "pair tie-break, one-token docs contribute nothing") {
    val out = TextAnalysis.bpeMerges(docs(
        (1L, "a b a b c"), (2L, "a b"), (3L, "x"), (4L, "c a b")), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // pairs: doc1: (a,b)(b,a)(a,b)(b,c); doc2: (a,b); doc4: (c,a)(a,b)
    assert(out.toSeq == Seq(("a", "b", 4L), ("b", "a", 1L), ("b", "c", 1L)))
  }

  test("maxSimScores: hand-computed on orthogonal/parallel unit vectors; " +
      "deterministic under repartition") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    def vec(x: Double, y: Double) = Array(x, y)
    // doc 0: e_x, e_y; doc 1: e_x only; doc 2: diagonal
    val rows = Seq(
      Row(1L, vec(1, 0).toSeq, 0), Row(2L, vec(0, 1).toSeq, 0),
      Row(3L, vec(2, 0).toSeq, 1),
      Row(4L, vec(1, 1).toSeq, 2))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val got = Similarity.maxSimScores(df, df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // score(0,0): qx→max(1,0)=1, qy→max(0,1)=1 → 2.0
    assert(got((0L, 0L)) == 2.0)
    // score(0,1): qx→1, qy→0 → 1.0 ; score(1,0): x→1 → 1.0
    assert(got((0L, 1L)) == 1.0 && got((1L, 0L)) == 1.0)
    // score(0,2): each axis vector vs diagonal = cos 45° = 0.707107
    assert(got((0L, 2L)) == 1.414214)
    // score(2,0): diagonal picks either axis → 0.707107
    assert(got((2L, 0L)) == 0.707107)
    val again = Similarity.maxSimScores(df.repartition(5), df.repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == again, "maxsim must not depend on physical layout")
  }

  test("bm25: exact against a hand-evaluated formula; zero-match doc " +
      "scores 0; higher tf at equal dl scores higher") {
    val d = docs((1L, "a a b x"), (2L, "x y"), (3L, "b b b a"))
    val out = TextAnalysis.bm25(d, Seq("a", "b"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // mirror of the operator's written fold (N=3, sum_dl=10, df_a=df_b=2;
    // avgdl term written exactly as the operator: sum_dl / n_docs)
    def s(tf: Long, dl: Long, df: Long): Double = {
      val idf = (3L - df + 0.5) / (df + 0.5)
      idf * (tf.toDouble * 2.2) /
        (tf.toDouble + 1.2 * (0.25 + (0.75 * dl) / (10L / 3.0)))
    }
    def rnd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2L) == 0.0, s"doc without query terms must score 0: ${out(2L)}")
    assert(out(1L) == rnd(s(2, 4, 2) + s(1, 4, 2)), out)
    assert(out(3L) == rnd(s(1, 4, 2) + s(3, 4, 2)), out)
    assert(out(3L) > out(1L), "tf(b)=3 must outrank tf(b)=1 at equal dl")
  }

  test("invertedIndex: df counts the full group, postings are capped, " +
      "sorted and canonical") {
    val d = docs((1L, "a b"), (2L, "b c"), (3L, "b a"), (10L, "b"))
    val full = TextAnalysis.invertedIndex(d).orderBy("term").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(full("a") == ((2L, "1,3")))
    assert(full("b") == ((4L, "1,2,3,10")), "numeric sort, not string sort")
    assert(full("c") == ((1L, "2")))
    val capped = TextAnalysis.invertedIndex(d, maxPostings = 2)
      .filter(col("term") === "b").collect().head
    assert(capped.getLong(1) == 4L, "df must still count the full group")
    assert(capped.getString(2) == "1,2", "postings capped to first 2 ids")
  }

  test("epochShuffle: a permutation per epoch, epochs differ, plan is " +
      "range-parallel") {
    val d = docs((1L to 40L).map(i => (i, s"doc $i")): _*)
    val e1 = graft.ops.Splits.epochShuffle(d, "doc_id", 1)
    val p1 = e1.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    val p2 = graft.ops.Splits.epochShuffle(d, "doc_id", 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    assert(p1.values.toSeq.sorted == (1L to 40L), "epoch 1 not a permutation")
    assert(p2.values.toSeq.sorted == (1L to 40L), "epoch 2 not a permutation")
    assert(p1 != p2, "different epochs must produce different orders")
    // rerun is bit-identical (pure function of epoch + id)
    val p1b = graft.ops.Splits.epochShuffle(d, "doc_id", 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    assert(p1 == p1b)
    val plan = e1.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"), plan)
  }

  // independent reference implementation of sequential-priority BPE:
  // for each merge in order, one left-to-right non-overlapping pass
  private def bpeRef(toks: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(toks) { case (cur, (a, b)) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
          out += (a + " " + b); i += 2
        } else { out += cur(i); i += 1 }
      }
      out.toSeq
    }

  test("bpeEncode: priority order, overlap, chaining — matches reference") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import graft.functions.{BpeApply, Hashing}
    def enc(text: String, merges: Seq[(String, String)]): Seq[String] = {
      val df = Seq(text).toDF("text")
      df.select(column(BpeApply(
          expression(Hashing.tokens(col("text"))), merges)).as("e"))
        .head().getSeq[String](0)
    }
    // overlap: "x x x" under (x,x) merges the FIRST pair only
    assert(enc("x x x", Seq(("x", "x"))) == Seq("x x", "x"))
    // priority: (b,c) outranks (a,b) — "a b c" must become a | b c
    assert(enc("a b c", Seq(("b", "c"), ("a", "b"))) == Seq("a", "b c"))
    // chaining: a later merge can reference an earlier merged token
    assert(enc("a b c", Seq(("a", "b"), ("a b", "c"))) == Seq("a b c"))
    // no merge applicable → unchanged
    assert(enc("p q r", Seq(("x", "y"))) == Seq("p", "q", "r"))
    // randomized-ish corpus parity against the reference implementation
    val merges = Seq(("the", "dog"), ("dog", "dog"), ("the", "the"),
      ("the dog", "barks"))
    val texts = Seq(
      "the dog barks at the dog dog dog",
      "the the the dog barks",
      "dog dog dog dog",
      "the dog barks the dog barks the dog barks",
      "a b the dog")
    for (t <- texts)
      assert(enc(t, merges) == bpeRef(t.split("\\s+").toSeq, merges), t)
  }

  test("bpeEncode: counts conserve and the query path runs on real docs") {
    val d = Tables.documents(spark, sfDir)
    val merges = graft.ops.TextAnalysis.bpeMerges(d).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(merges.length <= 20 && merges.nonEmpty)
    val e = graft.ops.TextAnalysis.bpeEncode(d, merges)
    val rows = e.collect()
    assert(rows.length == d.count())
    // n_merged = tokens removed; each merge application removes exactly 1
    assert(rows.forall(r => r.getAs[Long]("n_merged") ==
      r.getAs[Long]("n_tokens") - r.getAs[Long]("n_bpe_tokens")))
    assert(rows.forall(r => r.getAs[Long]("n_bpe_tokens") >= 1 ||
      r.getAs[Long]("n_tokens") == 0))
    // the learned top-1 merge must actually fire somewhere in the corpus
    assert(rows.map(_.getAs[Long]("n_merged")).sum > 0)
    // spot-check three docs against the reference implementation
    val sample = d.orderBy("doc_id").limit(3).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("n_bpe_tokens")).toMap
    for (r <- sample) {
      val toks = r.getAs[String]("text").trim.split("\\s+")
        .filter(_.nonEmpty).toSeq
      assert(byId(r.getAs[Long]("doc_id")) == bpeRef(toks, merges).length)
    }
  }

  test("bigramSurprisal: common words in improbable order score above " +
      "the same words in corpus order; buckets hand-checked") {
    // corpus: 20 copies of the same sentence + one doc with the same
    // WORDS in scrambled order — unigram stats identical, bigrams novel
    val sentence = "the cat sat on the mat"
    val scrambled = "mat the on sat cat the"
    val d = docs(((1L to 20L).map(i => i -> sentence) :+
      (99L -> scrambled)): _*)
    val out = TextAnalysis.bigramSurprisal(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("mean_surprisal")).toMap
    assert(out(99L) > out(1L),
      s"scrambled order must surprise the bigram LM: $out")
    // hand-check one bucket: bigram "the cat" occurs 20x (bf=20),
    // context "the" starts 40 in-sentence + 1 scrambled bigram (cf=41),
    // V=5 distinct words -> (41+5) div 21 = 2 -> bucket len(bin(2))-1 = 1
    val pairsOut = TextAnalysis.bigramSurprisal(d)
    assert(out(1L) >= 0.0 && pairsOut.count() == 21)
  }

  test("survivorship: longest doc wins its cluster (id tie-break), " +
      "transitive members counted, singletons survive themselves") {
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> body,                       // chain 1~2~3 via shared body
      2L -> (body + " x1"),
      3L -> (body + " x1 x2"),          // longest → survivor
      7L -> "lone doc of unrelated words entirely distinct here today",
      8L -> body.replace("w", "q"))     // unrelated same-shape doc
    val out = Dedup.survivorship(d).orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byCluster = out.map(x => x._1 -> x).toMap
    // cluster 1 = {1,2,3}: survivor 3 (longest), drops len(1)+len(2)
    val l1 = body.length.toLong
    assert(byCluster(1L) == ((1L, 3L, 3L, l1 + 6, 2 * l1 + 3)), byCluster(1L))
    // singletons: 7 and 8 survive themselves with nothing dropped
    assert(byCluster(7L)._2 == 7L && byCluster(7L)._3 == 1L &&
      byCluster(7L)._5 == 0L)
    assert(byCluster(8L)._2 == 8L)
    assert(out.length == 3)
  }

  test("sortedNeighborhood: finds dups the sort key co-locates, misses " +
      "beyond the window by design, sub-3-token rows never divide by 0") {
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val rows: Seq[(Long, String)] = Seq(
      // same normalized prefix (case/punct differ) → rank-adjacent
      1L -> s"Alpha Beta! $body",
      2L -> s"alpha beta $body extra",
      // same body as 1/2 but a sort key far from their neighborhood,
      // with > window docs padded in between (keys c01..c09)
      20L -> s"zz tail $body",
      // sub-3-token docs, rank-adjacent to each other
      21L -> "xy", 22L -> "xz") ++
      (3L to 11L).map(i =>
        i -> s"c0${i - 2} filler ${(1 to 30).map(j => s"f${i}x$j").mkString(" ")}")
    val more = docs(rows: _*)
    val pairs = Dedup.sortedNeighborhood(more, window = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"rank-adjacent near-dup missed: $pairs")
    // 20 shares the body with 1/2 but sorts far away → not a candidate
    assert(!pairs.exists(p => p._2 == 20L),
      s"pair beyond the sort window should be missed by design: $pairs")
    // the two sub-3-token docs are rank-adjacent ('xy' ~ 'xz') but must
    // be dropped before the 0/0 Jaccard, not emitted as NaN/null
    assert(!pairs.exists(p => p._1 == 21L || p._2 == 21L))

    // exactly-once candidate generation: no pair can verify twice
    val all = Dedup.sortedNeighborhood(more, window = 4, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.distinct.length, "duplicate candidate pairs")
  }

  test("sortedNeighborhoodMulti: the suffix-key pass finds the pair the " +
      "prefix key cannot co-locate; union is a dedup'd superset") {
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    // doc 20 shares its ENDING (the body) with doc 1 but opens with a
    // sort key > window positions away under the prefix pass — findable
    // only by the reversed/suffix key (doc 2 ends in 'extra', so its
    // suffix key differs and pass 2 does not pair it with 20)
    val rows: Seq[(Long, String)] = Seq(
      1L -> s"Alpha Beta! $body",
      2L -> s"alpha beta $body extra",
      20L -> s"zz tail $body") ++
      (3L to 11L).map(i =>
        i -> s"c0${i - 2} filler ${(1 to 30).map(j => s"f${i}x$j").mkString(" ")}")
    val more = docs(rows: _*)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Dedup.sortedNeighborhood(more, window = 4,
      threshold = 0.3))
    val multi = pairs(Dedup.sortedNeighborhoodMulti(more, window = 4,
      threshold = 0.3))
    assert(!single.contains((1L, 20L)),
      "prefix pass alone must not see the shared-ending pair")
    assert(multi.contains((1L, 20L)),
      s"suffix pass must co-locate the shared-ending pair: $multi")
    assert(single.subsetOf(multi), "multi-pass must never lose pass-1 pairs")
    // the pair union dedups before verify: no pair emitted twice even
    // when both passes co-locate it (docs 1/2 share prefix AND body)
    val all = Dedup.sortedNeighborhoodMulti(more, window = 4, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.distinct.length, "duplicate candidate pairs")
  }

  // ---- int8 scalar quantization (round 5) ----------------------------

  test("sqReconstruct: per-dim error bounded by (hi-lo)/512, degenerate " +
      "dims exact, bounds from one aggregation") {
    val embs = Tables.embeddings(spark, sfDir)
    val b = Similarity.sqBounds(embs).collect()(0)
    val lo = b.getSeq[Double](0)
    val hi = b.getSeq[Double](1)
    val rec = Similarity.sqReconstruct(embs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val orig = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(rec.keySet == orig.keySet)
    for ((id, re) <- rec; i <- re.indices) {
      val bound = (hi(i) - lo(i)) / 512.0 + 1e-12
      assert(math.abs(re(i) - orig(id)(i)) <= bound,
        s"vec $id dim $i: |${re(i)} - ${orig(id)(i)}| > $bound")
    }
  }

  test("ivfSqTopK: candidate set is EXACTLY ivfTopK's (SQ changes " +
      "scores, never routing) and ranking stays sane vs exact cosine") {
    val embs = Tables.embeddings(spark, sfDir)
    val q = embs.filter(col("vec_id") < 10)
    val cents = embs.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.ivfSqTopK(embs, q, cents, nProbe = 16,
      k = Int.MaxValue)
    val exact = Similarity.ivfTopK(embs, q, cents, nProbe = 16,
      k = Int.MaxValue)
    // probing everything with unbounded k: same candidates both paths
    assert(pairs(sq) == pairs(exact), "SQ must not change candidates")
    // top-5 under quantized scores stays close to the exact top-5
    // (64 dims, 8-bit/dim: distortion is mild by construction)
    val sq5 = pairs(Similarity.ivfSqTopK(embs, q, cents, k = 5))
    val ex5 = pairs(Similarity.ivfTopK(embs, q, cents, k = 5))
    val agree = sq5.intersect(ex5).size.toDouble / ex5.size
    assert(agree >= 0.6, s"SQ top-5 agreement $agree collapsed")
  }

  test("urlCanonical collapses every variant class and leaves real differences alone") {
    val urls = Seq(
      // one logical page, every normalization rule firing somewhere
      1L -> "https://Example.COM/a/b",
      2L -> "HTTP://www.example.com/a/b/",
      3L -> "https://example.com:443/a/b#frag",
      4L -> "http://example.com:80/a/b?utm_source=x&utm_medium=y",
      5L -> "https://example.com/a/b?utm_campaign=z",
      // genuinely different pages must NOT collapse
      6L -> "https://example.com/a/b?page=2",
      7L -> "https://example.com/a/c",
      8L -> "https://other.com/a/b",
      // ':443'/':80' INSIDE a path or query value is content, not a
      // default port — the strip is anchored to the authority
      9L -> "https://example.com/r?next=host:443/x",
      10L -> "https://example.com/p:80/q").toDF("doc_id", "url")
    val out = Dedup.urlDedup(urls, "url").orderBy("canonical_id").collect()
    val byId = out.map(r => r.getLong(1) -> (r.getString(0), r.getLong(2))).toMap
    assert(byId(1L) == ("example.com/a/b", 5L), s"got ${byId.get(1L)}")
    // ?page=2 survives (not a tracking param); distinct path and host survive
    assert(byId(6L)._1 == "example.com/a/b?page=2" && byId(6L)._2 == 1L)
    assert(byId(7L)._2 == 1L && byId(8L)._2 == 1L)
    assert(byId(9L)._1 == "example.com/r?next=host:443/x", s"got ${byId.get(9L)}")
    assert(byId(10L)._1 == "example.com/p:80/q", s"got ${byId.get(10L)}")
    assert(out.length == 6)
  }

  test("pmiBigrams: hand-computed lifts, count floor, deterministic " +
      "tie order, totals taken BEFORE the floor") {
    val d = Seq(
      (1L, "new york new york new york"),          // "new york" x3
      (2L, "san francisco san francisco san francisco"),
      (3L, "the the the the the the the")           // "the the" x6
    ).toDF("doc_id", "text")
    // N = 19 tokens, M = 16 bigrams (york-new/francisco-san bridges
    // count toward M even though they fall below the floor)
    val out = TextAnalysis.pmiBigrams(d, minCount = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("new york", 3L, 3L, 3L, 7.520833),       // 3*19*19/(16*3*3), tie
      ("san francisco", 3L, 3L, 3L, 7.520833),  // broken by bigram asc
      ("the the", 6L, 7L, 7L, 2.762755)))       // 6*19*19/(16*7*7)
  }

  test("gopherFilter flags each rule independently and reports the first failure") {
    val good = ("the of and " + Seq.fill(30)("word").mkString(" ")) // 33 words, 3 distinct stops
    val rows = Seq(
      (1L, good),                                    // passes all
      (2L, "the of tiny"),                           // fails words (3 < 30)
      (3L, ("the of " + Seq.fill(31)("a").mkString(" "))), // mean len 1.36 < 3
      (4L, ("the of " + Seq.fill(28)("####word").mkString(" "))), // symbols
      (5L, ("the of " + Seq.fill(31)("12345").mkString(" ")))) // alpha frac low
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(rows, minWords = 5, maxWords = 80)
      .orderBy("doc_id").collect()
    def reason(i: Int) = out(i).getString(out(i).fieldIndex("fail_reason"))
    def keep(i: Int) = out(i).getLong(out(i).fieldIndex("keep"))
    assert(keep(0) == 1L && reason(0) == "ok")
    assert(keep(1) == 0L && reason(1) == "words")
    assert(keep(2) == 0L && reason(2) == "word_len")
    assert(keep(3) == 0L && reason(3) == "symbols")
    assert(keep(4) == 0L && reason(4) == "alpha")
    // stopword rule: enough words, shaped fine, but no 2 distinct stops
    val noStop = Seq((6L, Seq.fill(40)("word").mkString(" "))).toDF("doc_id", "text")
    val r6 = TextAnalysis.gopherFilter(noStop, minWords = 5).head()
    assert(r6.getString(r6.fieldIndex("fail_reason")) == "stopwords")
  }

  test("charEntropy: closed forms and parallelism-independence") {
    val rows = Seq(
      (1L, "aaaa"),          // one symbol: H = 0
      (2L, "abab"),          // two equiprobable: H = 1
      (3L, "abcdabcdabcdabcd"), // four equiprobable: H = 2
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(rows).orderBy("doc_id").collect()
    assert(out.length == 3, "empty text yields no row (no characters)")
    def h(i: Int) = out(i).getDouble(out(i).fieldIndex("entropy"))
    assert(h(0) == 0.0 && h(1) == 1.0 && h(2) == 2.0)
    assert(out(2).getLong(out(2).fieldIndex("n_distinct_chars")) == 4L)
    // decimal-summed terms: bit-identical across partition counts
    val big = (0L until 200L).map(i => (i, s"doc $i text with chars ${i * 7}"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.charEntropy(big.repartition(1)).orderBy("doc_id").collect()
    val b = TextAnalysis.charEntropy(big.repartition(13)).orderBy("doc_id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }
}
