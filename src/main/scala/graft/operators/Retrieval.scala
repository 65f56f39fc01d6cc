package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.store.Artifact

/** Ranked lexical retrieval over the document corpus — the search
  * half a RAG pipeline pairs with the ANN index ([[Similarity]]/
  * [[Pq]]/[[Sq]]): BM25 (Robertson/Walker, the Lucene default) with
  * the standard k1 = 1.2, b = 0.75 parameters and Lucene's
  * always-positive idf form ln(1 + (N − df + 0.5)/(df + 0.5)).
  *
  * The query workload is DERIVED deterministically from the corpus —
  * the [[NumQueryTerms]] RAREST terms (lowest document frequency,
  * ties by term), the discriminative end of the vocabulary where
  * idf carries signal — so the whole operator is a pure function of the
  * table and hash-oracles in DuckDB (`bm25_topk`), including the
  * floating-point score: every arithmetic step is written in the
  * same order on both engines, and `ln` parity is already
  * established by the tf-idf and LM-score oracles.
  *
  * Scale shape: one corpus scan + explode feeds tf (cached — three
  * consumers), doc lengths and document frequencies as map-side-
  * combinable aggregates; the corpus-wide constants (N, Σdl) are a
  * 1-row broadcast and the query-term table a [[NumQueryTerms]]-row
  * broadcast, so scoring is one narrow pass over the posting rows of
  * the query terms only — never a corpus×queries join — followed by
  * a per-term WindowGroupLimit top-[[TopDocs]]. At 100 TB this is
  * the inverted-index probe shape: work scales with the query terms'
  * posting lists, not the corpus.
  */
object Retrieval {

  /** BM25 term-frequency saturation. */
  val K1 = 1.2

  /** BM25 length normalization. */
  val B = 0.75

  /** Derived query terms per run. */
  val NumQueryTerms = 5

  /** Documents returned per query term. */
  val TopDocs = 10

  /** Reciprocal-rank-fusion constant (the standard 60 from Cormack/
    * Clarke/Buettcher — large enough that head ranks don't dominate).
    */
  val RrfC = 60

  /** Lexical candidates per query before fusion. */
  val LexTop = 10

  /** Fused results per query. */
  val HybridTop = 5

  /** HYBRID retrieval — the full RAG serving shape: for each query
    * document (ids ≡ 0 mod 100, the same workload as the ANN family;
    * `doc_id` and `vec_id` are 1:1), fuse a LEXICAL ranking (3-gram
    * shingle Jaccard over the inverted index — only documents sharing
    * a shingle are candidates, the [[Dedup]] equi-join shape) with
    * the SEMANTIC ranking (`ann_brute_topk` cosine) by
    * reciprocal rank fusion: rrf(d) = Σ_lists 1/([[RrfC]] + rank_d).
    * RRF is the production default for lexical+vector fusion because
    * it needs no score calibration between incomparable scales —
    * ranks only — which also makes it EXACT arithmetic here
    * (reciprocals of small integers, summed in a fixed order), so the
    * whole hybrid pipeline hash-oracles in DuckDB (`hybrid_topk`).
    *
    * Scale shape: the lexical side is the inverted-index equi-join
    * (bipartite: query docs × posting lists, shard-linear like
    * [[Dedup.incremental]]); the semantic side is any ANN operator —
    * brute here for oracle exactness, the IVF-PQ probe at scale; the
    * fusion is a full outer join on (query, doc) of two
    * queries×top-k frames — planning-time-constant size, broadcast.
    */
  def hybridTopK(s: SparkSession, dir: String): DataFrame = {
    val sem = Ann.search(s, dir, "ann_brute_topk")
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("sem_rank"))
    // cached: both legs of the bipartite join read this frame —
    // uncached, each leg re-scans and re-explodes the corpus (the
    // Dedup.shingleIndex lesson; plan-keyed, shared, kept under the
    // OperatorCaches lifecycle)
    val inv = load(s, dir, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("n"), xxhash64(col("shingle")).as("shingle"))
      .cache()
    val lexRank = Window.partitionBy(col("query_id"))
      .orderBy(col("jaccard").desc, col("doc_id"))
    val lex = inv.filter(col("doc_id") % 100 === 0)
      .toDF("query_id", "n_q", "shingle")
      .join(inv.toDF("doc_id", "n_d", "shingle"), Seq("shingle"))
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"), col("n_q"), col("n_d"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_q") + col("n_d") - col("shared")))
      .withColumn("lex_rank", row_number().over(lexRank))
      .filter(col("lex_rank") <= LexTop)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val fusedRank = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("sem_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(fusedRank))
      .filter(col("rank") <= HybridTop)
      .select(col("query_id"), col("doc_id"), col("rank"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The shared in-query index frames: cached per-(doc, term) tf,
    * per-doc lengths, 1-row corpus stats, per-term document
    * frequencies. One corpus scan feeds all four (tf is the cached
    * root); every consumer then joins a broadcast query-term table
    * against it, so scoring work scales with the query terms' posting
    * lists, never the corpus.
    */
  private def corpusIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (tf, dl) = termFreqs(load(s, dir, "documents"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    (tf, dl, stats, dfreq)
  }

  /** Per-(doc, term) frequencies of `docs` (cached: every index frame
    * derives from them) and per-doc lengths.
    */
  private def termFreqs(docs: DataFrame): (DataFrame, DataFrame) = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    (tf, tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
  }

  def bm25Top(s: SparkSession, dir: String): DataFrame = {
    val (tf, dl, stats, dfreq) = corpusIndex(s, dir)
    val qterms = dfreq
      .orderBy(col("df"), col("term")).limit(NumQueryTerms)
      .select(col("term"), col("df"))
    scoreAndRank(tf.join(broadcast(qterms), "term").join(dl, "doc_id"),
      stats)
  }

  /** Terms per multi-term query. */
  val MultiTermLen = 3

  /** Multi-term disjunctive (OR) queries. */
  val NumMultiQueries = 4

  /** Multi-term conjunctive (AND) queries. */
  val NumAndQueries = 2

  /** Phrase queries per run. */
  val NumPhraseQueries = 3

  /** Per-(term, doc) BM25 score column over posting rows that carry
    * (tf, dl, df) and the broadcast 1-row (n, sumdl) stats — the same
    * expression [[scoreAndRank]] ranks by, exposed for the multi-term
    * aggregating consumers.
    */
  private def bm25Score: org.apache.spark.sql.Column = {
    val avgdl = col("sumdl").cast("double") / col("n")
    log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      ((col("tf") * lit(2.2)) /
        (col("tf") + lit(K1) * (lit(0.25) + lit(B) * (col("dl") / avgdl))))
  }

  /** Multi-term DISJUNCTIVE (OR) retrieval — the standard BM25 query
    * form: [[NumMultiQueries]] queries of [[MultiTermLen]] terms each,
    * derived from the 12 rarest terms in (df, term) order (query 1 =
    * ranks 1–3, …), scored per document as the SUM of the matched
    * terms' BM25 contributions, with the match count alongside (the
    * coordination signal a ranker may boost by). The per-document sum
    * adds its ≤ [[MultiTermLen]] term scores in SORTED order, so the
    * float result is bit-identical cross-engine and the query
    * hash-oracles (`bm25_multiterm`).
    *
    * Scale shape: identical to [[bm25Top]] — one broadcast of the
    * 12-term query table against the cached postings; the per-query
    * aggregation groups only the matched posting rows, then a
    * queries-sized top-[[TopDocs]] window. Nothing corpus × queries.
    */
  def bm25MultiTop(s: SparkSession, dir: String): DataFrame = {
    val (tf, dl, stats, dfreq) = corpusIndex(s, dir)
    val qrank = Window.orderBy(col("df"), col("term"))
    val qterms = dfreq
      .orderBy(col("df"), col("term"))
      .limit(NumMultiQueries * MultiTermLen)
      .withColumn("qrank", row_number().over(qrank))
      .withColumn("query_id",
        ((col("qrank") - 1) / MultiTermLen).cast("long") + 1)
      .select(col("query_id"), col("term"), col("df"))
    val scored = tf.join(broadcast(qterms), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("tscore", bm25Score)
    rankMulti(scored, requireAll = false)
  }

  /** The multi-term ranking tail shared by the in-query operators and
    * the on-disk probe: group per-(term, doc) `tscore` rows per
    * (query, doc), sum in SORTED order (cross-engine-exact), apply
    * the AND intersection filter when asked, rank top-[[TopDocs]].
    */
  private def rankMulti(scored: DataFrame,
      requireAll: Boolean): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val g = scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"),
        aggregate(array_sort(collect_list(col("tscore"))), lit(0.0),
          (a, x) => a + x).as("score"))
    val ranked = (if (requireAll)
        g.filter(col("n_matched") === MultiTermLen)
      else g)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopDocs)
    if (requireAll)
      ranked.select(col("query_id"), col("doc_id"), col("rank"),
        round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    else
      ranked.select(col("query_id"), col("doc_id"), col("rank"),
        col("n_matched"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
  }

  /** Multi-term CONJUNCTIVE (AND) retrieval — posting-intersection
    * semantics: only documents matching EVERY query term qualify,
    * ranked by the same sorted-sum BM25 score. AND queries are built
    * from the [[NumAndQueries]]×[[MultiTermLen]] most COMMON terms
    * (df desc, ties by term): for conjunctions the selectivity comes
    * from the intersection itself, and common terms are the case
    * where the intersection is non-trivially large. Hash-oracled
    * (`bm25_multiterm_and`).
    *
    * Scale shape: the intersection is the per-(query, doc) count
    * filter on the SAME grouped frame as the OR form — no extra join;
    * at index-serving scale this is the posting-list intersection
    * done as one aggregation over the probed rows.
    */
  def bm25MultiAndTop(s: SparkSession, dir: String): DataFrame = {
    val (tf, dl, stats, dfreq) = corpusIndex(s, dir)
    val qrank = Window.orderBy(col("df").desc, col("term"))
    val qterms = dfreq
      .orderBy(col("df").desc, col("term"))
      .limit(NumAndQueries * MultiTermLen)
      .withColumn("qrank", row_number().over(qrank))
      .withColumn("query_id",
        ((col("qrank") - 1) / MultiTermLen).cast("long") + 1)
      .select(col("query_id"), col("term"), col("df"))
    val scored = tf.join(broadcast(qterms), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("tscore", bm25Score)
    rankMulti(scored, requireAll = true)
  }

  /** PHRASE retrieval — the proximity form: a phrase matches only
    * where its tokens are ADJACENT, so phrase tf comes from a
    * positional bigram pass, not the unigram postings. Bigrams are
    * built narrowly with `zip_with` over the token array (no
    * positional self-join); the workload is the [[NumPhraseQueries]]
    * most frequent bigram phrases (df desc, ties by phrase — common
    * phrases give the non-trivial ranked lists), scored by the
    * standard BM25 formula with phrase tf/df and the UNIGRAM document
    * length (the Lucene convention). Hash-oracled (`bm25_phrase`).
    *
    * Scale shape: one narrow corpus pass explodes bigrams (2× token
    * volume), map-side-combined into per-(doc, phrase) counts; phrase
    * stats and scoring then mirror the unigram plan — broadcast query
    * phrases against cached bigram postings. At 100 TB a real engine
    * stores positions in the postings; the bigram index IS that
    * structure specialized to window = 1.
    */
  def bm25PhraseTop(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (x, y) => concat_ws(" ", x, y))
    val ptf = load(s, dir, "documents")
      .select(col("doc_id"), size(toks).as("dl"),
        explode(bigrams).as("phrase"))
      .groupBy(col("doc_id"), col("dl"), col("phrase"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val stats = load(s, dir, "documents")
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " "))).as("sumdl"))
    val pdf = ptf.groupBy(col("phrase")).agg(count(lit(1)).as("df"))
    val qphrases = pdf
      .orderBy(col("df").desc, col("phrase")).limit(NumPhraseQueries)
    val w = Window.partitionBy(col("phrase"))
      .orderBy(col("score").desc, col("doc_id"))
    ptf.join(broadcast(qphrases), "phrase")
      .crossJoin(broadcast(stats))
      .withColumn("score", bm25Score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopDocs)
      .select(col("phrase"), col("doc_id"), col("rank"),
        round(col("score"), 6).as("score"))
      .orderBy(col("phrase"), col("rank"))
  }

  /** The BM25 scoring + per-term ranking tail shared by the in-query
    * operator and the on-disk probe: input posting rows carrying
    * (term, doc_id, tf, dl, df) plus the 1-row (n, sumdl) corpus
    * stats; output the ranked (term, doc_id, rank, score) contract.
    */
  private def scoreAndRank(postings: DataFrame,
      stats: DataFrame): DataFrame = {
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(K1) * (lit(0.25) + lit(B) * (col("dl") / avgdl))))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    postings
      .crossJoin(broadcast(stats))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopDocs)
      .select(col("term"), col("doc_id"), col("rank"),
        round(col("score"), 6).as("score"))
      .orderBy(col("term"), col("rank"))
  }

  /** Term-hash buckets in the on-disk index — the partition count a
    * probe prunes against.
    */
  val IndexBuckets = 64

  /** The ON-DISK inverted index — the lexical analog of the IVF-PQ
    * layout's artifact story ([[Layout.writeIvfPqPartitioned]]): at
    * 100 TB nobody rebuilds postings per query. One corpus pass
    * writes posting rows (term, doc_id, tf, dl — length denormalized
    * in, the Lucene norms trick, so probes never join a doc table)
    * hive-partitioned by a term-hash bucket, with the lexicon
    * (term, df — the per-term statistics) and the 1-row corpus
    * constants as sidecars. A probe for any term set prunes to its
    * terms' buckets at PLANNING time — ≤ |terms|/[[IndexBuckets]] of
    * the postings are ever read — and scores from stored rows +
    * sidecars with ZERO corpus access.
    *
    * Lifecycle: appends, deletes, repairs and compactions change the
    * index only through [[graft.store.Artifact]] — each stages its
    * postings and sidecars and publishes them together — and every
    * probe recovers an interrupted one first, so df/N/Σdl never
    * disagree with the live postings after a crash.
    */
  def writeBm25Index(s: SparkSession, dir: String, path: String): Unit = {
    Artifact.recover(s, path)
    val (tf, dl) = termFreqs(load(s, dir, "documents"))
    writePostings(tf, dl, path)
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path.lexicon")
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
      .write.mode("overwrite").parquet(s"$path.stats")
  }

  /** The term-hash bucket a posting row of `term` lives in. */
  private def bucketOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(IndexBuckets.toLong))

  /** Write `tf` ⋈ `dl` as posting rows partitioned by term bucket. */
  private def writePostings(tf: DataFrame, dl: DataFrame,
      to: String): Unit =
    tf.join(dl, "doc_id")
      .withColumn("part_bucket", bucketOf(col("term")))
      .repartition(col("part_bucket"))
      .write.partitionBy("part_bucket").mode("overwrite").parquet(to)

  /** The lexicon of the index at `path`, once an interrupted
    * maintenance write is recovered: every probe starts here.
    */
  private def lexiconOf(s: SparkSession, path: String): DataFrame = {
    Artifact.recover(s, path)
    s.read.parquet(s"$path.lexicon")
  }

  /** Live posting rows of `qterms`' terms joined to them, scanned
    * from those terms' buckets only (a literal filter over the bounded
    * bucket set, like the IVF probe's cell pruning).
    */
  private def probed(s: SparkSession, path: String,
      qterms: DataFrame): DataFrame = {
    val buckets = qterms.select(bucketOf(col("term")).as("b")).distinct()
      .collect().map(_.getLong(0)).sorted
    Artifact.live(s, path, s.read.parquet(path)
        .filter(col("part_bucket").isin(buckets: _*)), "doc_id")
      .join(broadcast(qterms), "term")
  }

  /** Append a batch of NEW documents to an existing index — the
    * harder sibling of [[Layout.appendToIvfPq]]: the vector index's
    * quantizer is frozen, but BM25's statistics are NOT — df, N and
    * Σdl all shift with every batch, and a probe scoring new postings
    * against stale statistics is silently wrong. The saving structure
    * is that all three DECOMPOSE EXACTLY over disjoint document sets
    * (df adds per term, N and Σdl add), so the append is: one batch
    * pass writes its posting rows into the bucket directories, the
    * lexicon merges by full-outer term join (df_old + df_batch), and
    * the 1-row stats add — postings and both sidecars stage and publish
    * together ([[graft.store.Artifact]]). Probes after any append
    * sequence are row-identical to an index written whole over the
    * union (RetrievalSpec pins it); batch doc_ids are assumed new, as
    * with the vector shards.
    */
  def appendBm25Batch(s: SparkSession, path: String,
      docs: DataFrame): Unit =
    Artifact.update(s, path)(bm25Append(_, docs))

  /** Stage `docs`' postings to merge and the grown lexicon and stats. */
  private[graft] def bm25Append(st: Artifact.Stage,
      docs: DataFrame): Unit = {
    val (s, path) = (st.spark, st.path)
    val (tf, dl) = termFreqs(docs)
    writePostings(tf, dl, st.merge(""))
    s.read.parquet(s"$path.lexicon").withColumnRenamed("df", "df_old")
      .join(tf.groupBy(col("term")).agg(count(lit(1)).as("df_new")),
        Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df_old"), lit(0L)) +
          coalesce(col("df_new"), lit(0L))).as("df"))
      .write.parquet(st.replace(".lexicon"))
    s.read.parquet(s"$path.stats")
      .crossJoin(dl.agg(count(lit(1)).as("n_new"),
        coalesce(sum(col("dl")), lit(0L)).as("sumdl_new")))
      .select((col("n") + col("n_new")).as("n"),
        (col("sumdl") + col("sumdl_new")).as("sumdl"))
      .write.parquet(st.replace(".stats"))
    tf.unpersist()
  }

  /** Delete documents from the persisted index — the harder sibling
    * of [[Layout.deleteFromIvfPq]], because BM25's statistics are
    * part of the score: a tombstone alone would leave every surviving
    * document ranked against STALE df/N/Σdl. The delete therefore
    * maintains the statistics EXACTLY: the deleted docs' posting rows
    * are read back from the index itself (one scan at delete time —
    * scattered across buckets by design, the cost sits on the rare
    * verb, not on probes), their per-term document frequencies and
    * length mass subtract from the sidecars (df decomposes over
    * disjoint doc sets just as it adds), and the ids land in a
    * `.tombstones` sidecar every probe anti-joins. Probes after any
    * delete are row-identical to an index written whole over the
    * remainder (RetrievalSpec pins it, derived workload included —
    * the decremented lexicon IS the remainder's lexicon). Replaying
    * a delete is a no-op: only ids not already tombstoned subtract,
    * so the at-least-once caller can't double-decrement; deleting an
    * absent id subtracts nothing by construction. Both sidecars and
    * the tombstones stage and publish together
    * ([[graft.store.Artifact]]), so no crash point leaves the
    * statistics decremented without the tombstones.
    */
  def deleteFromBm25(s: SparkSession, path: String,
      ids: DataFrame): Unit = Artifact.update(s, path) { st =>
    val del = Artifact.live(s, path, ids.select(col("doc_id")).distinct(),
      "doc_id").cache()
    val delPost = s.read.parquet(path).join(del, "doc_id").cache()
    s.read.parquet(s"$path.lexicon")
      .join(delPost.groupBy(col("term")).agg(count(lit(1)).as("df_del")),
        Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("df_del"), lit(0L))).as("df"))
      .filter(col("df") > 0)
      .write.parquet(st.replace(".lexicon"))
    s.read.parquet(s"$path.stats")
      .crossJoin(delPost.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_del"),
          coalesce(sum(col("dl")), lit(0L)).as("dl_del")))
      .select((col("n") - col("n_del")).as("n"),
        (col("sumdl") - col("dl_del")).as("sumdl"))
      .write.parquet(st.replace(".stats"))
    st.tombstone(del, "doc_id")
    delPost.unpersist()
    del.unpersist()
  }

  /** Rebuild BOTH statistics sidecars from the live posting rows —
    * the recovery verb for a sidecar that disagrees with the postings
    * (a hand-edited or clobbered lexicon): df, N and Σdl are pure
    * functions of the index contents, so one scan over live rows
    * reproduces them exactly. On a healthy index this is a no-op
    * (RetrievalSpec pins probes identical before/after; and that a
    * deliberately corrupted sidecar is healed).
    */
  def repairBm25Sidecars(s: SparkSession, path: String): Unit =
    Artifact.update(s, path) { st =>
      val live = Artifact.live(s, path, s.read.parquet(path)
        .select(col("doc_id"), col("term"), col("tf"), col("dl")),
        "doc_id").cache()
      live.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .write.parquet(st.replace(".lexicon"))
      live.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
        .write.parquet(st.replace(".stats"))
      live.unpersist()
    }

  /** Fold the tombstones in and squash the small files appends leave —
    * same physical-hygiene contract as [[Layout.compactIvfPq]]:
    * rewrite each bucket from its live rows into the stage, publish it
    * over the live tree, drop the tombstone sidecar. The statistics
    * sidecars are already exact (the delete maintained them), so
    * probes before and after a compaction are identical (RetrievalSpec
    * pins it).
    */
  def compactBm25(s: SparkSession, path: String): Unit =
    Artifact.update(s, path) { st =>
      Artifact.live(s, path, s.read.parquet(path)
          .select(col("doc_id"), col("term"), col("tf"), col("dl"),
            col("part_bucket").cast("long").as("part_bucket")), "doc_id")
        .repartition(col("part_bucket"))
        .write.partitionBy("part_bucket").parquet(st.replace(""))
      st.drop(Artifact.Tombstones)
    }

  /** Multi-term disjunctive probe over the persisted index — the
    * serving form of [[bm25MultiTop]]: the same 12-rarest-terms
    * workload derives from the LEXICON sidecar (no corpus access),
    * the scan prunes to the query terms' buckets at planning time,
    * per-term scores come from stored (tf, dl) rows + the stats
    * sidecar, and the sorted-sum/rank tail is [[rankMulti]] itself —
    * so probe results are row-identical to the in-query operator
    * (RetrievalSpec pins it). At 100 TB this is the serving shape:
    * index once, answer multi-term queries from ≤ |terms|/buckets of
    * the postings.
    */
  def bm25MultiProbe(s: SparkSession, path: String): DataFrame = {
    val lexicon = lexiconOf(s, path)
    val qrank = Window.orderBy(col("df"), col("term"))
    val qterms = lexicon
      .orderBy(col("df"), col("term"))
      .limit(NumMultiQueries * MultiTermLen)
      .withColumn("qrank", row_number().over(qrank))
      .withColumn("query_id",
        ((col("qrank") - 1) / MultiTermLen).cast("long") + 1)
      .select(col("query_id"), col("term"), col("df"))
    val scored = probed(s, path, qterms)
      .crossJoin(broadcast(s.read.parquet(s"$path.stats")))
      .withColumn("tscore", bm25Score)
    rankMulti(scored, requireAll = false)
  }

  /** Probe the persisted index for `terms` (or, when empty, the same
    * derived rarest-[[NumQueryTerms]] workload as [[bm25Top]], read
    * from the lexicon sidecar — no corpus access either way). The
    * scan partition-prunes to the query terms' buckets and the
    * scoring tail is shared with the in-query operator, so results
    * are row-identical to [[bm25Top]] (RetrievalSpec pins it).
    */
  def bm25Probe(s: SparkSession, path: String,
      terms: Seq[String] = Nil): DataFrame = {
    val lexicon = lexiconOf(s, path)
    val qterms = (if (terms.nonEmpty) lexicon.filter(col("term").isin(terms: _*))
      else lexicon.orderBy(col("df"), col("term")).limit(NumQueryTerms))
      .select(col("term"), col("df"))
    val postings = probed(s, path, qterms)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"))
    scoreAndRank(postings, s.read.parquet(s"$path.stats"))
  }
}
