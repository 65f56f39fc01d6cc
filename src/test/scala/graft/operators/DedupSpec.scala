package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup pack semantics at sf0.001 (the sf0.01 DuckDB oracle is the
  * stronger gate; this spec pins the cross-strategy invariants and the
  * simhash contract that has no SQL oracle).
  */
class DedupSpec extends SparkSpec {

  test("all three pair strategies (index, prefix, LSH) agree exactly") {
    val exact = Dedup.ngramJaccard(spark, sf).collect().toSeq
    val prefix = Dedup.ngramJaccardPrefix(spark, sf).collect().toSeq
    val lsh = Dedup.minhashLsh(spark, sf).collect().toSeq
    assert(exact.nonEmpty, "test data should contain near-dup pairs")
    assert(lsh == exact)
    assert(prefix == exact)
  }

  test("curation pipeline: survivors pass quality and exclude near-dup drops") {
    val survivors = Curate.pipeline(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val droppedB = Dedup.ngramJaccard(spark, sf).collect()
      .map(_.getAs[Long]("id_b")).toSet
    assert(survivors.nonEmpty)
    assert((survivors & droppedB).isEmpty)
    val stats = Curate.stats(spark, sf).head()
    assert(stats.getAs[Long]("n_curated") == survivors.size)
    assert(stats.getAs[Long]("n_docs") >= stats.getAs[Long]("n_quality"))
  }

  test("containment pairs equal a brute-force shingle-set replay, and " +
      "catch a planted sub-document pair Jaccard misses") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect()
    val want = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      shared = (sa.toSet & sb.toSet).size
      c = shared.toDouble / math.min(sa.size, sb.size)
      if c >= Dedup.ContainmentThreshold
    } yield (a, b)).toSet
    val got = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got ${got.size} pairs, brute replay ${want.size}")
    // the operator's reason to exist: a short doc fully contained in a
    // long one has containment 1.0 but Jaccard |A|/|B| below the 0.5
    // dedup gate — synthesize the pair and check only containment sees it
    val dir = java.nio.file.Files.createTempDirectory("graft-cont").toString
    val small = (1 to 5).map(i => s"tok$i").mkString(" ")
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    Seq((1L, small, "en", "src0", small.length.toLong),
        (2L, big, "en", "src0", big.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val cont = Dedup.containmentPairs(spark, dir).collect()
    assert(cont.length == 1 && cont.head.getDouble(2) == 1.0, cont.toSeq)
    assert(Dedup.ngramJaccard(spark, dir).collect().isEmpty,
      "Jaccard at 0.5 should NOT see the size-skewed pair")
  }

  test("minhash signature is deterministic and length-128") {
    val sig = Dedup.minhashSignature(Dedup.shingles(lit("a b c d e f g")))
    val twice = spark.range(1).select(sig.as("s1"), sig.as("s2"))
      .selectExpr("s1 = s2 AS eq", "size(s1) AS n").head()
    assert(twice.getBoolean(0) && twice.getInt(1) == Dedup.NumPerms)
  }

  test("simhash: identical text -> distance 0; near-dup docs detected") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("lazy", "sleepy")
    val far = "completely different content about spark shuffles and joins"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <=
      java.lang.Long.bitCount(fp(1L) ^ fp(4L)))
  }

  test("simhash pairs on real docs: symmetric-free, hamming <= 3, finds dups") {
    val pairs = Dedup.simhashPairs(spark, sf).collect()
    assert(pairs.nonEmpty, "planted near-dups should collide")
    assert(pairs.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(pairs.forall(r => r.getAs[Int]("hamming") <= 3))
  }

  test("exact dedup groups by token-set; members counted") {
    val g = Dedup.exact(spark, sf)
    val total = g.agg(sum("n_members")).head().getLong(0)
    assert(total == graft.Tables.load(spark, sf, "documents").count())
  }

  test("embedding near-dup pairs are ordered and thresholded") {
    val p = Dedup.embeddingPairs(spark, sf).collect()
    assert(p.forall(r => r.getAs[Double]("cos") >= 0.45))
    assert(p.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("blocked embedding pair join equals the exact nested-loop baseline") {
    val brute = Dedup.embeddingPairs(spark, sf).collect().toSeq
    val blocked = Dedup.embeddingPairsBlocked(spark, sf).collect().toSeq
    assert(brute.nonEmpty, "test data should contain cos >= 0.45 pairs")
    assert(blocked == brute)
  }

  test("sign-LSH equals exhaustive search in the high-cos regime it targets") {
    import spark.implicits._
    // synthetic corpus: near-orthogonal bulk + planted near-dups at
    // cos >= ~0.98 (the regime production embedding dedup runs at,
    // where the 16x4 banding's per-pair miss probability is ~5e-8)
    val rng = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0L until 200L).map(i => (i, unit()))
    val planted = (0 until 5).map { k =>
      val (srcId, src) = base(k * 13)
      // tiny perturbation keeps cosine near 1
      val p = src.map(x => x + (rng.nextGaussian() * 0.02).toFloat)
      (1000L + srcId, p)
    }
    val corpus = base ++ planted
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) =>
          s + p.toDouble * q.toDouble }
      dot(a, b) / math.sqrt(dot(a, a)) / math.sqrt(dot(b, b))
    }
    val expected = (for {
      (ia, va) <- corpus; (ib, vb) <- corpus if ia < ib
      c = cos(va, vb) if c >= 0.9
    } yield (ia, ib)).sorted
    assert(expected.size >= 5, "all planted pairs should exceed 0.9")
    val got = Dedup.embeddingSignLshPairs(
        corpus.toDF("vec_id", "embedding"), 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSeq.sorted
    assert(got == expected)
  }

  test("incremental screen equals the straddling subset of the full " +
      "pair join") {
    val inc = Dedup.incremental(spark, sf).collect()
    // every shard doc reports, and only shard docs
    val shardIds = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 7)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(inc.map(_.getAs[Long]("doc_id")).toSet == shardIds)
    // n_dup_partners per shard doc = its cross-boundary partners in
    // the (independently oracled) full pair set
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val partners = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }.filter { case (x, y) => x % 10 == 7 && y % 10 != 7 }
      .groupBy(_._1).map { case (id, o) => id -> o.length.toLong }
    inc.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = partners.getOrElse(id, 0L)
      assert(r.getAs[Long]("n_dup_partners") == n, s"doc $id")
      assert(r.getAs[Boolean]("admitted") == (n == 0), s"doc $id")
    }
    // the screen is exercised non-trivially at this sf
    assert(inc.exists(!_.getAs[Boolean]("admitted")),
      "no straddling near-dup pair at this sf — screen untested")
  }

  test("clusters equal the transitive closure of the pair graph") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // independent driver-side union-find over the same pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = Dedup.clusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(got == expected)
    // transitivity really exercised: labels are component minima
    assert(got.values.toSet.subsetOf(got.keySet))
  }

  test("cluster-size histogram accounts for every clustered doc; " +
      "all components have size >= 2") {
    val labelled = Dedup.clusters(spark, sf).count()
    val hist = Dedup.clusterSizes(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters"))
    assert(hist.nonEmpty)
    assert(hist.forall(_._1 >= 2),
      s"components are >= 2 docs by construction: ${hist.toSeq}")
    assert(hist.map { case (sz, k) => sz * k }.sum == labelled,
      "sum(size * n_clusters) must equal the labelled-doc count")
  }

  test("semantic dedup equals the in-cell restriction of the exact " +
      "pair screen; cross-cluster pairs are the documented miss") {
    val out = Dedup.semantic(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), r.getAs[Long]("n_shadowing"),
          r.getAs[Boolean]("kept"))).toMap
    val nVecs = graft.Tables.load(spark, sf, "embeddings").count()
    assert(out.size.toLong == nVecs, "one verdict per vector")
    // independent replay: cells from the (ivf-oracled) quantizer,
    // near-dup pairs from a driver-side exhaustive cosine sweep at
    // SemCos — a vector's shadow count is its smaller-id SAME-cell
    // partners, nothing else
    val cells = Ann.cellAssignments(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val vecs = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s2, (p, q)) =>
        s2 + p.toDouble * q.toDouble }
    val pairs = for {
      (ia, va) <- vecs.toSeq; (ib, vb) <- vecs if ia < ib
      c = dot(va, vb) / math.sqrt(dot(va, va)) / math.sqrt(dot(vb, vb))
      if c >= Dedup.SemCos
    } yield (ia, ib)
    val expected = pairs.filter { case (a, b) => cells(a) == cells(b) }
      .groupBy(_._2).map { case (b, ps) => b -> ps.length.toLong }
    out.foreach { case (id, (cell, n, kept)) =>
      assert(cell == cells(id), s"vec $id cell")
      assert(n == expected.getOrElse(id, 0L), s"vec $id n_shadowing")
      assert(kept == (n == 0L), s"vec $id kept")
    }
    // the screen must be non-trivially exercised, and the in-cell
    // restriction must genuinely differ from the all-pairs screen
    // (otherwise the clustering would be untested decoration)
    assert(out.values.exists(!_._3), "nothing dropped — screen untested")
    // the documented recall trade is live too: some near-dup pairs
    // straddle cells and are therefore (intentionally) not screened
    assert(pairs.exists { case (a, b) => cells(a) != cells(b) },
      "no cross-cell pair — the miss contract is untested")
  }

  test("df-capped pair join equals the exact inverted-index join on " +
      "the corpus") {
    val exact = Dedup.ngramJaccard(spark, sf).collect().toSeq
    val capped = Dedup.ngramJaccardDfCapped(spark, sf).collect().toSeq
    assert(exact.nonEmpty)
    assert(capped == exact)
  }

  test("df cap drops boilerplate-only candidates but keeps exact " +
      "Jaccard for pairs reached via a cold shingle") {
    import spark.implicits._
    // six docs that are NOTHING BUT the same boilerplate shingle: every
    // pair qualifies at J = 1.0 yet shares only a df=8 shingle
    val boiler = (1L to 6L).map(i => (i, "boil plate common"))
    // two docs that share the boilerplate AND cold content: reachable
    // through df=2 shingles even when the hot one leaves the index
    val mixed = Seq((100L, "boil plate common x y z"),
      (101L, "boil plate common x y z"))
    val docs = (boiler ++ mixed).toDF("doc_id", "text")

    // cap 3 < df("boil plate common") = 8: the 15 boilerplate-only
    // pairs are dropped by design (the CCNet recall contract)...
    val capped = Dedup.dfCappedPairs(docs, 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).sorted.toSeq
    // ...while (100, 101) survives via its cold shingles, and its
    // Jaccard is still computed over the FULL sets (hot included):
    // identical docs -> exactly 1.0, not 3/4
    assert(capped == Seq((100L, 101L, 1.0)))

    // a cap above every df is inert: all 16 identical-doc pairs with
    // J = 1.0, plus nothing else
    val uncapped = Dedup.dfCappedPairs(docs, 100).collect()
    assert(uncapped.length == 15 + 1)
    assert(uncapped.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  test("containment df cap: hot shingles leave the candidate index " +
      "but still count toward a found pair's exact containment") {
    import spark.implicits._
    // six boilerplate-only docs (one shared shingle, df >= 8 with the
    // quote pair below): under the cap their 15 mutual pairs vanish —
    // the fanout bound the cap exists for
    val boiler = (1L to 6L).map(i => (i, "boil plate common"))
    // a QUOTE INCLUSION: doc 100's three shingles all appear inside
    // the longer doc 101 — containment 1.0 while J = 3/5 stays below
    // the Jaccard gate (the pair class containment exists to find).
    // One shared shingle ("boil plate common") is HOT under the cap:
    // the correction join must restore it, or containment drops to
    // 2/3 and the pair is lost
    val quote = Seq(
      (100L, "boil plate common x y"),
      (101L, "boil plate common x y z w"))
    val docs = (boiler ++ quote).toDF("doc_id", "text")

    val capped = Dedup.containmentCappedPairs(docs, 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"))).sorted.toSeq
    assert(capped == Seq((100L, 101L, 1.0)), capped)

    // a cap above every df is inert: boilerplate pairs reappear
    // (each doc IS one shingle, containment 1.0) plus the quote pair
    val uncapped = Dedup.containmentCappedPairs(docs, 100).collect()
    assert(uncapped.length == 15 + 6 * 2 + 1, uncapped.toSeq.toString)
  }

  test("containment df cap is inert on the graded corpus (capped ≡ " +
      "exact all-pairs)") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf, "documents")
    val exact = docs.select(col("doc_id"),
        Dedup.shingles(col("text")).as("sh"))
      .toDF("id_a", "sh_a")
      .crossJoin(docs.select(col("doc_id"), Dedup.shingles(col("text"))
        .as("sh")).toDF("id_b", "sh_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / least(size(col("sh_a")), size(col("sh_b"))))
      .filter(col("containment") >= Dedup.ContainmentThreshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    val capped = Dedup.containmentCappedPairs(docs, Dedup.MaxShingleDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(exact.nonEmpty)
    assert(capped == exact)
  }

  test("paragraph dedup: first corpus occurrence survives, copies cut, " +
      "reassembly preserves order") {
    import spark.implicits._
    // 2-token "paragraphs". Doc 1 owns both its blocks; doc 2 repeats
    // doc 1's boilerplate block between fresh content; doc 3 is a
    // whole-document copy of doc 1; doc 4 repeats a block WITHIN
    // itself (second occurrence also cut — corpus-global contract).
    val docs = Seq(
      (1L, "cookie policy applies here"),
      (2L, "fresh stuff cookie policy more text"),
      (3L, "cookie policy applies here"),
      (4L, "unique words unique words")).toDF("doc_id", "text")
    val out = Dedup.paragraphs(docs, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_pars"),
        r.getAs[Long]("kept_pars"), r.getAs[String]("clean_text")))
      .toSeq
    assert(out == Seq(
      (1L, 2L, 2L, "cookie policy applies here"),
      // middle block is doc 1's boilerplate -> cut; survivors re-join
      // in original order across the gap
      (2L, 3L, 2L, "fresh stuff more text"),
      // full copy of doc 1: nothing survives, audit row remains
      (3L, 2L, 0L, ""),
      // in-doc repeat: first kept, second cut
      (4L, 2L, 1L, "unique words")))
  }

  test("paragraph overlap: pairs need >= minShared aligned blocks; " +
      "in-doc repeats count once; misaligned copies don't match") {
    import spark.implicits._
    val docs = Seq(
      // docs 1+2 share TWO aligned 2-token blocks -> a pair
      (1L, "alpha beta gamma delta x1 y1"),
      (2L, "alpha beta gamma delta x2 y2"),
      // doc 3 has one of them (and one of them TWICE — distinct
      // postings count it once) -> below minShared 2, no pair
      (3L, "alpha beta alpha beta z3 w3"),
      // doc 4 carries both blocks SHIFTED one token — alignment is
      // part of the paragraph contract, so no pair with 1/2
      (4L, "pad alpha beta gamma delta q4")).toDF("doc_id", "text")
    val got = Dedup.paragraphOverlapPairs(docs, 2, 2).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq
    assert(got == Seq((1L, 2L, 2L)))
    // at minShared 1 the boilerplate-only links appear (1-3, 2-3
    // via "alpha beta"), still counting doc 3's repeat once
    val loose = Dedup.paragraphOverlapPairs(docs, 2, 1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq
    assert(loose == Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("newline segmentation: blank-line docs split on \\n\\n (empty " +
      "fragments dropped), unbroken docs fall back to token blocks, " +
      "and dedup fires across both forms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "first paragraph here\n\nshared boilerplate block\n\nlast bit"),
      // repeats doc 1's middle paragraph verbatim
      (2L, "intro text\n\nshared boilerplate block"),
      // leading/trailing blank-line runs produce empty fragments that
      // must be dropped, leaving only the boilerplate (also a copy)
      (3L, "\n\nshared boilerplate block\n\n\n\n"),
      // no breaks: token-block fallback (2-token blocks)
      (4L, "no breaks here at all")).toDF("doc_id", "text")
    val out = Dedup.paragraphs(docs, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_pars"),
        r.getAs[Long]("kept_pars"), r.getAs[String]("clean_text"))).toSeq
    assert(out == Seq(
      (1L, 3L, 3L,
        "first paragraph here shared boilerplate block last bit"),
      (2L, 2L, 1L, "intro text"),
      (3L, 1L, 0L, ""),
      (4L, 3L, 3L, "no breaks here at all")))
    // the overlap complement sees the same paragraph unit: each pair
    // of the three breaks-form docs shares exactly the one
    // boilerplate paragraph
    val pairs = Dedup.paragraphOverlapPairs(docs, 2, 1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq
    assert(pairs == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("paragraph overlap df-cap: mega-df paragraphs leave the " +
      "candidate index; found pairs keep EXACT shared counts") {
    import spark.implicits._
    // eight template instances built ONLY from two boilerplate blocks:
    // without the cap, every pair of them is a candidate (28 pairs of
    // a df-8/df-10 key — the 10^6-duplicated-nav-bar shape in
    // miniature); two mirror docs share the hot block AND two cold
    // ones
    val boiler = (1L to 8L).map(i => (i, "boil plate extra junk"))
    val mirror = Seq((100L, "boil plate cold word tail two"),
      (101L, "boil plate cold word tail two"))
    val docs = (boiler ++ mirror).toDF("doc_id", "text")
    // cap 3 < df("boil plate") = 10 and df("extra junk") = 8: both
    // leave the index, so template-only pairs are dropped by design...
    val capped = Dedup.paragraphOverlapPairs(docs, 2, 2, maxDf = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq
    // ...while the mirror pair is reached via its cold blocks and the
    // correction join restores the hot block's contribution: 3 shared
    // blocks exactly, not the 2 cold ones the capped index saw
    assert(capped == Seq((100L, 101L, 3L)))
    // an above-every-df cap is inert: the 28 template pairs (2 shared
    // blocks each) plus the mirror pair; hot/cold split invisible
    val inert = Dedup.paragraphOverlapPairs(docs, 2, 2, maxDf = 100)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq
    assert(inert.length == 29)
    assert(inert.contains((100L, 101L, 3L)))
    assert(inert.filterNot(_ == ((100L, 101L, 3L)))
      .forall(_._3 == 2L))
  }

  test("semantic dedup mega-cell: sub-split bounds the per-key pair " +
      "fanout; at-or-under-cap cells are bit-exact") {
    import spark.implicits._
    // 40 IDENTICAL unit vectors in ONE cell — the quantizer-collapse
    // shape SemDeDup itself creates on its target data. Exact
    // screening is 780 pairs on a single join key.
    val vecs = (1L to 40L).map(i =>
      (i, 0L, Array(1.0f, 0.0f, 0.0f), 1.0))
      .toDF("vec_id", "cell", "cv", "nrm")
    val capped = Dedup.semanticCore(vecs, cap = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_shadowing"),
        r.getAs[Boolean]("kept")))
    assert(capped.length == 40, "one verdict per vector")
    // nsub = ceil(40/10) = 4 subcells: each subcell's min id is kept,
    // so survivors <= 4 (vs exactly 1 unbounded) and every other
    // vector is still shadowed within its subcell
    val kept = capped.filter(_._3).map(_._1)
    assert(kept.nonEmpty && kept.length <= 4,
      s"survivor count ${kept.length} exceeds the subcell bound")
    capped.filterNot(_._3).foreach { case (_, n, _) =>
      assert(n >= 1L) }
    // candidate work collapses from P^2 to ~P*cap: the shadowing-pair
    // total (= sum of per-subcell C(p,2)) must be strictly below the
    // unbounded 780 and below the 4-even-subcells worst-case envelope
    val totalPairs = capped.map(_._2).sum
    assert(totalPairs < 780L, "sub-split did not bound the fanout")
    assert(totalPairs >= 40L - kept.length,
      "every non-survivor needs at least one shadow")
    // a cap >= pop is inert: bit-exact unbounded semantics (one
    // survivor, full 780-pair shadow total)
    val exact = Dedup.semanticCore(vecs, cap = 64).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_shadowing"),
        r.getAs[Boolean]("kept")))
    assert(exact.count(_._3) == 1)
    assert(exact.map(_._2).sum == 780L)
    assert(exact.filter(_._3).map(_._1).toSeq == Seq(1L))
  }
}
