package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Iterative BPE training — the merge LOOP that
  * [[TextAnalysis.bpePairs]] is one round of: each round counts
  * adjacent symbol pairs over the CURRENT segmentation, takes the
  * most frequent pair as the next merge, and re-segments the corpus
  * with it (greedy left-to-right, the standard BPE application).
  * Deliverable: the ranked merge table a tokenizer ships.
  *
  * Orchestration shape: a bounded driver loop where each round is
  * one distributed aggregation plus ONE collected row (the argmax
  * pair — O(1) driver traffic per round, never the corpus). The
  * re-segmentation is a codegen'd `aggregate` fold over each word's
  * symbol array — per-word state, partition-parallel, no shuffle; the
  * only shuffle per round is the ≤ |symbols|²-key pair count.
  *
  * Pair counting uses the standard convention (all adjacent pairs,
  * overlaps included — "aaa" contributes (a,a) twice to the COUNT but
  * greedy application merges it once); the BpeSpec replay pins both
  * sides of that convention. Ties rank by (count desc, left, right),
  * so the merge sequence is deterministic. No SQL oracle: the
  * data-dependent merge loop (round N's input depends on round N−1's
  * collected argmax) is not expressible as a fixed DuckDB query —
  * `bpe_train` is a declared rows-only query, exact-pinned by the
  * spec's sequential replay instead.
  */
object Bpe {

  /** Merge rounds trained (tiny for the synthetic corpus; the loop,
    * not the constant, is the operator).
    */
  val TrainRounds = 3

  /** Data-dependent stop for [[trainConverged]]: merge while the best
    * pair still covers at least this fraction of the corpus's
    * trainable word occurrences. A RELATIVE threshold is the
    * scale-robust contract — an absolute count would train ~C extra
    * rounds every time the corpus grows 10×, while the relative form
    * converges in the same number of rounds at any scale (pair
    * frequency distributions are scale-invariant under i.i.d. growth).
    */
  val StopFrac = 0.05

  /** Safety cap on convergence rounds — keeps the bench bounded on an
    * adversarial corpus whose pair distribution has a heavy flat tail
    * (each round is a full aggregation; the cap turns "data-dependent"
    * into "data-dependent, at most this much").
    */
  val MaxRounds = 12

  private def pairCounts(words: DataFrame): DataFrame = {
    val syms = col("syms")
    words
      .select(explode(zip_with(
        slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))
  }

  /** Greedy left-to-right application of one merge to a symbol array. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedlit(Seq.empty[String]), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** (merge_rank, left, right, pair_count) for [[TrainRounds]] rounds.
    * Each round's segmentation is cached, materialized, and only then
    * is the previous round's released — without it, round N's count
    * action would replay every earlier round's fold from the scan.
    * All caches are dropped before returning: the result is the tiny
    * collected merge table, so nothing pins storage past the call.
    */
  def train(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, dir)
      .toDF("merge_rank", "left", "right", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** The (unique word, occurrence count) vocabulary collapse — the
    * standard BPE trick. Pair counts weighted by freq are exactly the
    * token-level counts, but the iterated segmentation state is
    * vocabulary-sized, not corpus-sized: at 100 TB the per-round cache
    * and fold touch ~|vocab| rows while the corpus is scanned once.
    */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))

  /** The collected merge list behind [[train]] — shared with
    * [[tokenize]], which needs the merges themselves, not the table.
    */
  private[operators] def trainedMerges(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] =
    // session-memoized like the k-means/PQ trainers: the merge list is
    // deterministic per dir listing (ties break on (count, l, r)),
    // so the round loop runs once per listing and tokenize/train
    // consumers replay the collected rows
    OperatorCaches.trainedMemo(dir -> s"bpe|$TrainRounds") {
      trainedMergesLoop(s, dir)
    }

  private def trainedMergesLoop(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] = {
    var words = vocab(s, dir).cache()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to TrainRounds) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, n) = (top(0).getAs[String]("l"),
          top(0).getAs[String]("r"), top(0).getAs[Long]("n"))
        merges += ((round, a, b, n))
        if (round < TrainRounds) {
          val prev = words
          words = words
            .select(applyMerge(col("syms"), a, b).as("syms"), col("freq"))
            .cache()
          words.count() // materialize before releasing the parent
          prev.unpersist()
        }
      }
    }
    words.unpersist()
    merges.result()
  }

  /** Train to CONVERGENCE instead of a fixed round count — the natural
    * contract: merge while the best pair still covers ≥ [[StopFrac]]
    * of the trainable word occurrences, stop when the distribution
    * flattens below it (or at the [[MaxRounds]] safety cap). Same
    * one-collected-row-per-round orchestration as [[train]]; the stop
    * decision reads the SAME collected argmax row, so convergence
    * costs zero extra driver traffic — plus one 1-row total-count
    * action up front to fix the threshold. Rows-only like `bpe_train`
    * (the merge list is data-dependent); BpeSpec replays the loop
    * sequentially, stop rule included.
    */
  def trainConverged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMergesConverged(s, dir)
      .toDF("merge_rank", "left", "right", "pair_count")
      .orderBy(col("merge_rank"))
  }

  private[operators] def trainedMergesConverged(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    OperatorCaches.trainedMemo(dir -> s"bpeconv|$StopFrac|$MaxRounds") {
      trainedMergesConvergedLoop(s, dir)
    }

  private def trainedMergesConvergedLoop(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] = {
    var words = vocab(s, dir).cache()
    // coalesce: an empty vocabulary (empty shard) must train zero
    // merges, not throw on the NULL sum
    val totalFreq = words.agg(coalesce(sum(col("freq")), lit(0L)))
      .head.getLong(0)
    val minCount = math.max(2L, math.ceil(totalFreq * StopFrac).toLong)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var converged = false
    while (!converged && round <= MaxRounds) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("n") < minCount) converged = true
      else {
        val (a, b, n) = (top(0).getAs[String]("l"),
          top(0).getAs[String]("r"), top(0).getAs[Long]("n"))
        merges += ((round, a, b, n))
        val prev = words
        words = words
          .select(applyMerge(col("syms"), a, b).as("syms"), col("freq"))
          .cache()
        words.count() // materialize before releasing the parent
        prev.unpersist()
        round += 1
      }
    }
    words.unpersist()
    merges.result()
  }

  /** Tokenization under the trained merges — the APPLY half of the
    * trainer: how many pieces each document costs once the vocabulary
    * ships. Segmentation runs on the UNIQUE-word frame (the same
    * vocabulary collapse as training — per-word chained greedy merge
    * folds, vocab-sized work), then an equi-join on the word lands
    * each document's piece counts; at 100 TB the segmented vocabulary
    * is the small side and the corpus explode streams against it.
    * EVERY document is kept — one with no trainable word (only
    * single-letter or non-[a-z] tokens) reports zero counts rather
    * than vanishing (the [[Curriculum]] completeness contract).
    * Rows-only like `bpe_train` (the merge list is data-dependent);
    * BpeSpec replays the segmentation sequentially.
    *
    * Output: (doc_id, n_words, n_pieces) — trainable-word count and
    * total BPE pieces under the [[TrainRounds]]-merge vocabulary.
    */
  def tokenize(s: SparkSession, dir: String): DataFrame =
    tokenizeWith(s, dir, trainedMerges(s, dir).map(m => (m._2, m._3)))

  /** The FROZEN-VOCABULARY merge list: a fixed shipped artifact (the
    * deployment case — training happens once, tokenization forever
    * after), chosen to chain (t,h → th,e) and collide plausibly on
    * English text. Freezing is what makes the apply half HASH-GRADED
    * (`bpe_tokenize_frozen`): the DuckDB oracle replays the identical
    * greedy segmentation as a bounded string-rewriting recursion —
    * per merge, repeated leftmost `replace` of `_a_b_` with `_ab_` on
    * the `_`-delimited symbol string until fixpoint, which equals the
    * greedy left-to-right fold (leftmost-first, merged symbols never
    * re-merge under the same rule, and a pass's consumed trailing
    * delimiter only defers — never changes — the next disjoint
    * merge). The trained list stays rows-only (data-dependent);
    * BpeSpec pins the two-form equivalence on the real corpus vocab.
    *
    * ORACLE CONSTRAINT on regenerating this list (applies to the
    * `bpe_tokenize_frozen` AND `bpe_frozen_stats` oracles): the SQL
    * replace-to-fixpoint is NOT the greedy fold on one corner — a
    * run of 5+ IDENTICAL symbols under a self-merge (a,a), because a
    * replace pass consumes the shared `_` delimiter and segments
    * `aaaaa` as [aa, a, aa] where the greedy fold gives [aa, aa, a].
    * Per-merge counts agree at that level, but a LATER merge chained
    * onto the run's output (e.g. (a,a) then (a,aa)) would count
    * differently and fail the hash compare. The committed list has no
    * self-merge feeding a chained merge, and English [a-z]+ words
    * rarely carry 5-symbol runs; keep that property when regenerating
    * (no chained merges over same-symbol runs), or rewrite the oracle
    * recursion to single-occurrence-per-step replacement first.
    */
  val FrozenMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "u", "an" -> "d", "in" -> "g", "e" -> "s", "o" -> "n",
    "s" -> "t", "e" -> "d")

  /** Tokenization under the frozen merge list — graded end to end. */
  def tokenizeFrozen(s: SparkSession, dir: String): DataFrame =
    tokenizeWith(s, dir, FrozenMerges)

  /** Graded `bpe_frozen_stats`: the TRAINER's per-round readout under
    * the frozen vocabulary — for each frozen merge, in application
    * order, how many times it actually fires across the corpus
    * (occurrences weighted by word frequency). This is the
    * `kmeans_frozen_stats`/`pq_frozen_stats` recipe applied to BPE:
    * the live `bpe_train`/`bpe_train_converged` loops stay rows-only
    * (the merge LIST is data-dependent), but the loop's per-round
    * dynamics — segment, count, apply — hash-grade end to end on the
    * shipped list, because applied-merge counts are pure functions of
    * (corpus, frozen merges). n_applied differs from `bpe_train`'s
    * pair_count by convention: pair COUNTS include overlaps ("aaa" →
    * (a,a) twice), applied merges cannot — the greedy fold merges
    * once; the graded readout uses the applied (piece-reduction)
    * definition, which the DuckDB oracle replays as the per-level
    * piece drop of its fixpoint rewriting.
    *
    * Scale shape: vocabulary-sized like every BPE stage — one
    * projection chains all [[FrozenMerges]] folds per unique word
    * (no shuffle), one 12-group aggregation ends it.
    */
  def frozenStats(s: SparkSession, dir: String): DataFrame = {
    val base = vocab(s, dir)
      .select(col("freq"), col("syms").as("s0"),
        size(col("syms")).as("p0"))
    val chained = FrozenMerges.zipWithIndex.foldLeft(base) {
      case (d, ((a, b), i)) =>
        d.withColumn(s"s${i + 1}", applyMerge(col(s"s$i"), a, b))
          .withColumn(s"p${i + 1}", size(col(s"s${i + 1}")))
    }
    val aggs = FrozenMerges.indices.map(i =>
      sum(col("freq") * (col(s"p$i") - col(s"p${i + 1}")))
        .cast("long").as(s"a${i + 1}"))
    val one = chained.agg(aggs.head, aggs.tail: _*)
    val rows = FrozenMerges.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i + 1).as("merge_rank"), lit(a).as("left"),
        lit(b).as("right"),
        coalesce(col(s"a${i + 1}"), lit(0L)).as("n_applied"))
    }
    one.select(explode(array(rows: _*)).as("m"))
      .select(col("m.merge_rank"), col("m.left"), col("m.right"),
        col("m.n_applied"))
      .orderBy(col("merge_rank"))
  }

  /** Graded `bpe_converged_cert`: the CONVERGENCE CERTIFICATE of the
    * data-dependent trainer — the one row that proves
    * [[trainConverged]]'s stop rule held, with every claim either
    * oracle-exact or earned by live computation (the
    * `media_video_decode` within_tol recipe applied to a trainer):
    *
    *   - `total_freq` and `min_count` are pure functions of the
    *     corpus (Σ trainable-word occurrences; max(2, ⌈·StopFrac⌉)) —
    *     the oracle recomputes both exactly;
    *   - `n_merges_capped` = trained merge count ≤ [[MaxRounds]]
    *     (the safety cap held);
    *   - `all_above_threshold` = every trained merge's argmax count
    *     ≥ min_count (no merge was taken past convergence);
    *   - `converged` = at the cap, OR one more pair count over the
    *     FINAL segmentation state finds no pair ≥ min_count — the
    *     stop was genuine, verified by re-deriving the final state
    *     from scratch (segment the vocabulary under the trained list,
    *     count pairs, take the max) rather than trusting the loop.
    *
    * The merge LIST stays rows-only (data-dependent); this row makes
    * the trainer's TERMINATION contract hash-graded: a stop-rule
    * regression flips a boolean and fails the driver compare.
    */
  def convergedCert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = trainedMergesConverged(s, dir)
    // two corpus actions read the vocabulary (total count + the
    // re-derived final-state pair count) — cache it like the trainer
    // loop does; the returned frame is a local literal, so unpersist
    // is safe before returning
    val words = vocab(s, dir).cache()
    try {
      val totalFreq = words.agg(coalesce(sum(col("freq")), lit(0L)))
        .head.getLong(0)
      val minCount = math.max(2L, math.ceil(totalFreq * StopFrac).toLong)
      val capped = merges.length == MaxRounds
      // at the cap the || short-circuits — skip the re-count entirely
      val converged = capped || {
        // final segmentation state re-derived from scratch: fold ALL
        // trained merges over the vocabulary, then one pair count
        val finalWords = words.select(
          merges.foldLeft(col("syms")) { case (syms, (_, a, b, _)) =>
            applyMerge(syms, a, b)
          }.as("syms"), col("freq"))
        pairCounts(finalWords)
          .agg(coalesce(max(col("n")), lit(0L))).head.getLong(0) < minCount
      }
      Seq((totalFreq, minCount, merges.length <= MaxRounds,
        merges.forall(_._4 >= minCount), converged))
        .toDF("total_freq", "min_count", "n_merges_capped",
          "all_above_threshold", "converged")
    } finally words.unpersist()
  }

  private def tokenizeWith(s: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = load(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
    val segmented = words.select(col("w")).distinct()
      .select(col("w"), merges.foldLeft(split(col("w"), "")) {
        case (syms, (a, b)) => applyMerge(syms, a, b)
      }.as("syms"))
      .select(col("w"), size(col("syms")).cast("long").as("pieces"))
    val perDoc = words.join(segmented, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("pieces")).as("n_pieces"))
    load(s, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
      .orderBy(col("doc_id"))
  }
}
