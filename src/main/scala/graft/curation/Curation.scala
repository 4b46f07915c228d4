package graft.curation

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: deterministic
  * stratified sampling (corpus mixing) and GPT-style sequence packing.
  * Both are pure column expressions / window aggregations — single scan,
  * codegen end to end, no driver-side loops — and both are *hash- or
  * order-deterministic* so a 100 TB run, its retry, and the SQL oracle
  * produce byte-identical output (no RNG state, no partition-order
  * dependence).
  */
object Curation {

  /** Per-million threshold rendering of a sampling rate. */
  private def ppm(rate: Double): Long = math.round(rate * 1000000L)

  /** Deterministic stratified Bernoulli sample: a row survives iff
    * `hash60(key) mod 1e6 < rate(stratum) · 1e6`. This is how a corpus
    * mixture ("keep 50% of English, 10% of everything else") is taken at
    * scale: the keep decision is a pure function of the row's stable key,
    * so resampling a grown corpus keeps prior decisions (only new keys
    * are decided fresh), retries are idempotent, and any engine with md5
    * reproduces the exact sample. One scan, zero shuffle; the stratum
    * rate table compiles to a chained CASE (strata counts are
    * human-scale). */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val threshold = rates.foldLeft(lit(ppm(defaultRate))) {
      case (acc, (s, r)) => when(stratum === lit(s), lit(ppm(r))).otherwise(acc)
    }
    df.filter(pmod(TextFunctions.hash60(key), lit(1000000L)) < threshold)
  }

  /** Repetition-quality metrics (the Gopher-style repetition filters):
    * per document, the fraction of words that are repeats and the share
    * of word bigrams taken by the single most frequent bigram. High
    * values flag boilerplate / degenerate generations for removal before
    * training. Everything is computed inside the row — tokenize, sort
    * the bigram array, and take the longest equal run with a single
    * `aggregate` fold — so the operator is one scan with zero shuffle
    * and stays in whole-stage codegen at any corpus size.
    *
    * Output: (id, n_words, dup_word_frac, top_bigram_share); ratios are
    * exact-integer-over-integer IEEE doubles (engine-reproducible). */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // tokenize ONCE into a real projection: __ws is referenced many
    // times below, so CollapseProject keeps the split un-inlined and
    // every use reads the materialized array (the per-shingle `slice`
    // inside the fold would otherwise re-split per bigram)
    val ws = col("__ws")
    val n = size(ws).cast("long")
    val nDistinct = size(array_distinct(ws)).cast("long")
    // longest equal run in the sorted bigram array = max bigram count
    val maxBigram = aggregate(
      array_sort(TextFunctions.shinglesOf(ws, 2)),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, g) => {
        val run = when(g === st("prev"), st("run") + lit(1L)).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(st("best"), run).as("best"))
      },
      st => st("best"))
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ws"))
      .select(col(idCol), n.as("n_words"),
        ((n - nDistinct).cast("double") / n).as("dup_word_frac"),
        when(n >= 2, maxBigram.cast("double") / (n - lit(1L)))
          .otherwise(lit(0.0)).as("top_bigram_share"))
  }

  /** Benchmark decontamination: report every document sharing at least
    * one word `n`-gram with the benchmark set (the standard test-set
    * contamination check run before training). Both sides reduce to
    * distinct 60-bit shingle hashes; the corpus side streams through a
    * join against the (small, distinct-ed) benchmark gram table — AQE
    * broadcasts it when it fits, shuffles otherwise (no forced hint) —
    * then one partial-aggregated `groupBy(id)` counts total vs hit
    * grams. Nothing materializes on the driver; corpus-side cost is one
    * scan + one shuffle on the id.
    *
    * Output per contaminated doc: (id, n_grams, n_hits, contamination =
    * n_hits / n_grams as an exact-integer-ratio double). */
  def contamination(docs: DataFrame, bench: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame, keep: Seq[String]): DataFrame = df
      .select(keep.map(col) :+
        explode(array_distinct(TextFunctions.shingles(col(textCol), n)))
          .as("gram"): _*)
      .select(keep.map(col) :+ TextFunctions.hash60(col("gram")).as("g"): _*)
    val benchGrams = grams(bench, Nil).distinct().withColumn("hit", lit(1L))
    grams(docs, Seq(idCol)).join(benchGrams, Seq("g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_grams"))
      .filter(col("n_hits") > 0)
  }

  /** The landed BENCHMARK's distinct n-gram hash set (kind
    * "bench-grams") — the artifact the decontamination screen probes.
    * An eval suite is the canonical landed corpus: it changes on
    * benchmark RELEASES, not per ingest batch, so its gram set is
    * computed once and every batch screens against it (memoized,
    * IndexStore-persisted like every landed kind). Rows = distinct
    * grams of the suite — benchmark-sized, never corpus-sized. */
  def landedBenchGrams(bench: DataFrame, n: Int = 3,
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(bench, "bench-grams", n, textCol),
      bench.select(
          explode(array_distinct(TextFunctions.shingles(col(textCol), n)))
            .as("gram"))
        .select(TextFunctions.hash60(col("gram")).as("g"))
        .distinct())

  /** Incremental DECONTAMINATION — the screening cell of the
    * incremental matrix: an incoming batch screens against the
    * memoized landed benchmark gram set ([[landedBenchGrams]]),
    * flagging every batch doc that shares an n-gram with the eval
    * suite. Verdicts are batch-order-independent by construction (the
    * benchmark is the landed side; batches contribute nothing to it —
    * a benchmark RELEASE is a new landed frame, a new key, and a
    * one-time re-screen decision, the q193 swap shape). Identical
    * output contract to [[contamination]] over the same slices —
    * that equality is q194's oracle. Per batch: the batch's own gram
    * explode + one hash join against the benchmark-sized set. */
  def contaminationIncrement(bench: DataFrame, incoming: DataFrame,
      n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val benchGrams = landedBenchGrams(bench, n, textCol)
      .withColumn("hit", lit(1L))
    incoming
      .select(col(idCol),
        explode(array_distinct(TextFunctions.shingles(col(textCol), n)))
          .as("gram"))
      .select(col(idCol), TextFunctions.hash60(col("gram")).as("g"))
      .join(benchGrams, Seq("g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_grams"))
      .filter(col("n_hits") > 0)
  }

  /** Per-document n-gram novelty: the share of a document's distinct
    * n-grams that appear nowhere else in the corpus — high novelty marks
    * original text, low novelty marks boilerplate/templating. Grams are
    * hashed to 60-bit longs BEFORE the df groupBy/join (the
    * [[contamination]] device: the exchange ships an 8-byte key instead
    * of the gram text, ~8× narrower at corpus scale); df counts and the
    * join are exact over the hash space. Shared by SparkEntry's q68 and
    * the scale benches so the measured shape IS the contract shape.
    * Output: (id, n_grams, n_unique, novelty). */
  def noveltyStats(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol),
        explode(array_distinct(TextFunctions.shingles(col(textCol), n)))
          .as("gs"))
      .select(col(idCol), TextFunctions.hash60(col("gs")).as("g"))
    val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_grams"))
  }

  /** Corpus vocabulary: the `k` most frequent word tokens with total
    * occurrence count and document frequency — the frequency table a
    * tokenizer/vocab build or a stopword audit starts from. One shuffle:
    * `groupBy(token)` with map-side partial counts (the distinct-doc
    * count is Spark's standard two-phase distinct aggregate). The top-k
    * itself is `orderBy … limit k` — Catalyst plans TakeOrderedAndProject
    * (per-partition heap top-k, k·partitions rows to the driver), never a
    * global sort. Ties break lexicographically so the cut is
    * engine-reproducible. Output: (rank, token, freq, df). */
  def vocabTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("sid"),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val top = tok.groupBy("token")
      .agg(count(lit(1)).as("freq"), count_distinct(col("sid")).as("df"))
      .orderBy(desc("freq"), asc("token"))
      .limit(k)
    // the unpartitioned window runs AFTER the limit, over k rows only
    top.withColumn("rank",
        row_number().over(Window.orderBy(desc("freq"), asc("token"))))
      .select("rank", "token", "freq", "df")
  }

  /** Exact per-stratum distribution percentiles by integer rank
    * selection: the percentile value is the element at 1-based rank
    * `ceil(p·n)` within its stratum, computed as `(bp·n + 9999) div
    * 10000` over basis points — pure integer arithmetic, so every engine
    * selects the same row (no interpolation, no float rank). Ties order
    * by `tieCol` so the selected row is unique.
    *
    * This is the *exact* (oracle) form: rank selection needs a sort
    * within each stratum, and Spark's window hash-partitions by the
    * stratum key — fine for human-scale strata (sources, languages),
    * wrong for 100 TB under a handful of strata. The one-pass production
    * path at that scale is `approx_percentile` (a mergeable KLL-style
    * sketch, map-side combined like any aggregate); keep this form as
    * its accuracy oracle. Output: (stratum, pct, value). */
  def distributionStats(df: DataFrame, stratum: String, valueCol: String,
      tieCol: String, pctsBp: Seq[Int]): DataFrame = {
    val wRank = Window.partitionBy(stratum).orderBy(col(valueCol), col(tieCol))
    val wCnt = Window.partitionBy(stratum)
    df.select(col(stratum), col(valueCol), col(tieCol))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .withColumn("bp", explode(array(pctsBp.map(p => lit(p.toLong)): _*)))
      .filter(col("rn") === expr("(bp * cnt + 9999) div 10000"))
      .select(col(stratum), (col("bp").cast("double") / lit(10000.0)).as("pct"),
        col(valueCol).as("value"))
  }

  /** Global total-order row numbering — `row_number() OVER (ORDER BY …)`
    * in a shape that survives 100 TB. The naive window funnels every row
    * through ONE partition (an unpartitioned window is a single reducer);
    * this form range-partitions on the sort key (Spark samples key
    * quantiles, the same mechanism as a global `orderBy`), numbers rows
    * within each range partition, and shifts each partition by the total
    * count of the partitions before it. The per-partition counts are a
    * `numPartitions`-row aggregate — driver-held and broadcast-joined
    * back, the same O(partitions) driver state a global sort already
    * carries. Net cost: one range exchange of the (sortCols, carried
    * cols) projection + one O(partitions) broadcast; no single-reducer
    * stage anywhere.
    *
    * `sortCols` must be a total order (include a tie-break id) or
    * numbering within equal keys is partition-placement-dependent. The
    * input is narrowed to `keep ++ sortCols` before the exchange — carry
    * ids, not payloads, and join payloads back afterwards. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[String],
      keep: Seq[String], nPartitions: Int, out: String = "rn"): DataFrame = {
    val narrow = df.select((keep ++ sortCols).distinct.map(col): _*)
      .repartitionByRange(nPartitions, sortCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      // one pass feeds both the count aggregate and the window below
      .localCheckpoint(true)
    val offsets = narrow.groupBy("__pid")
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__offset",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__pid", "__offset")
    val wLocal = Window.partitionBy("__pid").orderBy(sortCols.map(col): _*)
    narrow
      .join(broadcast(offsets), "__pid")
      .withColumn(out, row_number().over(wLocal) + col("__offset"))
      .drop("__pid", "__offset")
  }

  /** Per-document TF-IDF keyword extraction: the `k` highest-scoring
    * tokens per document, `score = tf · ln(N / df)` (raw term count ×
    * natural-log inverse document frequency, no smoothing — every engine
    * reproduces it). The document-frequency table is one `groupBy(token)`
    * over distinct (doc, token) pairs; it re-joins the term counts by
    * token — AQE broadcasts it when it fits (vocab tables are tiny
    * relative to the corpus), shuffles otherwise. Per-doc top-k is a
    * (doc)-partitioned rank window over the doc's own vocabulary — rows
    * per group = distinct terms per doc, human-scale. Ties break
    * lexicographically. Output: (id, rank, token, tf, df, score·1e6 as
    * an integer-stable long). */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // one scoring pipeline, shared with the mergeable face (the
    // q135/q136 delegation pattern): the one-shot index IS the
    // partials of the whole corpus folded once
    tfidfTopTermsFromPartials(retrievalPartials(docs, idCol, textCol),
      docs, k, idCol, textCol)

  /** Mergeable retrieval-index partials — the corpus-global state of
    * the TF-IDF/BM25 family as plain-sum rows: (token, df) document
    * frequencies, plus ONE null-token row carrying the slice's doc
    * count (df counts distinct docs per token WITHIN the slice; doc
    * ids are disjoint across slices, so both columns are additive).
    * A landed corpus's partials persist once; each batch contributes
    * its own; [[tfidfTopTermsFromPartials]] over the union scores
    * under the exact combined-corpus index — the q135/q136
    * mergeability pattern applied to the retrieval family (BM25's
    * extra global, Σ doc length for avgdl, merges the same way and
    * would ride a second sentinel column). */
  def retrievalPartials(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .unionByName(docs.agg(
        lit(null).cast("string").as("token"),
        count_distinct(col(idCol)).as("df")))

  /** [[tfidfTopTerms]] with the index folded from ANY union of
    * [[retrievalPartials]] outputs — bit-identical to the one-shot
    * scoring (df and N are additive; the micro-ln quantization
    * happens only after the fold). */
  def tfidfTopTermsFromPartials(partials: DataFrame, docs: DataFrame,
      k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val df = partials.filter(col("token").isNotNull)
      .groupBy("token").agg(sum(col("df")).as("df"))
    val n = partials.filter(col("token").isNull)
      .agg(sum(col("df")).cast("double").as("__n"))
    val w = Window.partitionBy(idCol)
      .orderBy(desc("score_e6"), asc("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      // quantize the ONE transcendental (ln of ≤|vocab| distinct ratios)
      // to integer micro-units, then scale by the integer tf — a 1-ulp
      // libm difference between engines dies in the round, and the
      // multiply stays exact, so ranking is engine-reproducible (same
      // reason the ANN family rounds cosines to 4 decimals pre-rank)
      .withColumn("score_e6",
        col("tf") * round(log(col("__n") / col("df")) * 1e6, 0)
          .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"),
        col("score_e6"))
  }

  /** Per-slice HyperLogLog register partials (the DISTINCT-COUNT cell
    * of the mergeable family — and its one MAX-merge: every other
    * partial in the family folds by plain sum, HLL registers fold by
    * per-bucket maximum, the semiring the 100 TB distinct count rests
    * on). 64 registers (b=6): h = hash60(value), bucket = h mod 64,
    * the remaining 54 bits r give ρ = trailing-zeros(r)+1 (r=0 → 55),
    * computed branch-free as `bit_count((r & -r) − 1) + 1` — pure
    * integer ops both engines replay bit-identically. Output: one row
    * per PRESENT register, (bucket, rho). Duplicates cost nothing
    * (max absorbs), so the partial is insensitive to slice-local
    * dedup. */
  def hllPartials(df: DataFrame, valueCol: String = "text"): DataFrame =
    df.select(TextFunctions.hash60(col(valueCol)).as("h"))
      .select(pmod(col("h"), lit(64L)).as("bucket"),
        expr("h div 64").as("r"))
      .select(col("bucket"),
        when(col("r") === 0L, lit(55L))
          .otherwise(expr("cast(bit_count((r & -r) - 1) as bigint) + 1"))
          .as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("rho"))

  /** The folded-register HLL estimate over ANY union of [[hllPartials]]
    * outputs — per-bucket MAX is associative/commutative/idempotent, so
    * the fold equals the one-shot registers of the combined corpus and
    * the oracle is the one-shot replay. Exactness of the estimate
    * itself (the float-looking part): the harmonic-mean denominator
    * Σ 2^−ρ is summed as the INTEGER Σ 2^(55−ρ) (≤ 64·2^54, BIGINT-
    * safe) so no float fold order exists; the raw estimate is then ONE
    * identical left-associated double expression on that integer in
    * both engines (casts and arithmetic correctly rounded), and the
    * small-range linear-counting branch m·ln(m/V) quantizes its ln to
    * e6 micro-units (≤64 distinct ratios — the standard lnq device).
    * Output: the folded registers (bucket, rho) each carrying the
    * constant est_e6 — both the sketch state and its reading, every
    * row DuckDB-replayable. */
  def distinctFromHllPartials(partials: DataFrame): DataFrame = {
    val folded = partials.groupBy("bucket").agg(max(col("rho")).as("rho"))
    val est = folded.agg(
        count(lit(1)).as("cnt"),
        sum(expr("shiftleft(cast(1 as bigint), cast(55 - rho as int))"))
          .as("s_present"))
      .select(col("cnt"),
        (col("s_present") +
          (lit(64L) - col("cnt")) * lit(36028797018963968L)).as("s"))
      // raw = α₆₄·m²/(S/2^55) with α₆₄ = 0.709 pinned as a literal;
      // identical literal-first association on the oracle side
      .select(col("cnt"),
        (lit(0.709) * lit(4096.0) * lit(36028797018963968.0) /
          col("s").cast("double")).as("raw"))
      .select(
        when(col("raw") <= lit(160.0) && col("cnt") < 64,
          lit(64L) * round(log(lit(64.0) /
            (lit(64L) - col("cnt")).cast("double")) * 1e6, 0).cast("long"))
          .otherwise(round(col("raw") * 1e6, 0).cast("long"))
          .as("est_e6"))
    folded.crossJoin(broadcast(est)).select("bucket", "rho", "est_e6")
  }

  /** Per-slice value histogram (the QUANTILE cell of the mergeable
    * family): (stratum, value, count) rows, folded by plain sum. For an
    * integer-valued column the full-resolution histogram is a LOSSLESS
    * summary, so quantiles read off the fold are EXACT — the mergeable
    * path [[distributionStats]]'s scaladoc promises at 100 TB, now
    * oracle-proven (the sketch-accuracy ladder q74 bounds, this
    * completes exactly). */
  def histPartials(df: DataFrame, stratum: String,
      valueCol: String): DataFrame =
    df.groupBy(col(stratum), col(valueCol).as("v"))
      .agg(count(lit(1)).as("cnt"))

  /** [[distributionStats]] read off a histogram folded from ANY union
    * of [[histPartials]] outputs — bit-identical to the one-shot rank
    * selection: the value at 1-based rank `(bp·n + 9999) div 10000` is
    * tie-order-independent, and the folded histogram pins every rank
    * boundary with pure integer cumulative counts. The windows here run
    * over the HISTOGRAM (|distinct values| rows per stratum), not the
    * corpus — this is the scale path the exact form's scaladoc calls
    * for. Output: (stratum, pct, value), as [[distributionStats]]. */
  def distributionStatsFromPartials(partials: DataFrame, stratum: String,
      pctsBp: Seq[Int]): DataFrame = {
    val folded = partials.groupBy(col(stratum), col("v"))
      .agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.partitionBy(stratum).orderBy("v")
    val wAll = Window.partitionBy(stratum)
    folded
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("bp", explode(array(pctsBp.map(p => lit(p.toLong)): _*)))
      .withColumn("rank", expr("(bp * n + 9999) div 10000"))
      // the unique histogram row whose cumulative span covers the rank
      .filter(col("cum") >= col("rank") &&
        col("cum") - col("cnt") < col("rank"))
      .select(col(stratum), (col("bp").cast("double") / lit(10000.0)).as("pct"),
        col("v").as("value"))
  }

  /** Token-budget corpus selection: per stratum, keep the best documents
    * (by a caller-supplied score, ties on id) whose RUNNING token total
    * stays within the stratum's quota — the greedy step of assembling a
    * training mixture under a token budget ("up to X tokens of web, Y of
    * code, best-first"). One cumsum window per stratum (hash-partitioned
    * on the stratum key — strata are the shard unit); a document is kept
    * iff its own cumulative total fits, so the selection is a prefix of
    * the per-stratum quality ordering and reproducible anywhere the
    * score is. Output: kept docs with (id, stratum, n_tokens, cum_tokens,
    * rank_in_stratum). */
  def tokenBudgetSelect(docs: DataFrame, stratum: String, score: Column,
      nTokens: Column, quota: Column,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(col("__score").desc, col(idCol))
    docs
      .select(col(idCol), col(stratum), score.as("__score"),
        nTokens.cast("long").as("n_tokens"), quota.cast("long").as("__quota"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("rank_in_stratum", row_number().over(w))
      .filter(col("cum_tokens") <= col("__quota"))
      .drop("__score", "__quota")
  }

  /** DSIR-style data selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by the log importance weight of its HASHED n-gram
    * features under a target distribution vs the raw corpus, then keep
    * the per-source top quantile. Features here are hashed unigrams —
    * [[graft.functions.TextFunctions.hash60]] mod `buckets` — so the
    * feature space is a fixed `buckets`-row table regardless of corpus
    * vocabulary (the paper's device, and the reason this scales: both
    * distributions are broadcast-sized count tables, never
    * vocabulary-sized). The target distribution is estimated from the
    * documents of `targetSource` — "select web data that looks like
    * wiki" with src-N standing in for wiki.
    *
    * log w(d) = Σ_tokens [ln p_tgt(b) − ln p_raw(b)] with add-one
    * smoothing over the `buckets` cells, computed entirely in the
    * micro-unit-ln BIGINT device (lnq(x) = round(ln(x)·1e6)): per-token
    * contribution lnq(c_tgt(b)+1) − lnq(n_tgt+V) − lnq(c_raw(b)+1) +
    * lnq(n_raw+V), summed per document as an order-independent integer.
    * Selection is the per-stratum integer-rank quantile ([[q89]]'s
    * device, top instead of bottom): selected ⇔ rn·10000 ≤ cnt·keepBp
    * ranking by (logw_e6 desc, id). The paper samples with Gumbel
    * noise; the deterministic top-quantile is the engine-reproducible
    * contract face — a seeded [[stratifiedSample]]-style jitter column
    * composes on top if sampling is wanted.
    *
    * Scale: one (token → bucket) projection feeds two ≤`buckets`-row
    * hash aggregates (broadcast back), one one-row totals aggregate;
    * the per-doc sum is a map-side-combined (id, stratum) aggregate;
    * the rank window is hash-partitioned per stratum. Nothing is
    * vocabulary- or pair-shaped. Output: (idCol, stratum, n_feat,
    * logw_e6, selected) — one row per document with ≥ 1 token. */
  def dsirSelect(docs: DataFrame, targetSource: String,
      buckets: Int = 1024, keepBp: Int = 2000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(keepBp > 0 && keepBp <= 10000, "keepBp in (0, 10000]")
    val tb = dsirBuckets(docs, targetSource, buckets, stratum, idCol, textCol)
    val counts = dsirCountsOf(tb)
    val scored = dsirDocScores(tb, counts, buckets, idCol, stratum)
    val w = Window.partitionBy(stratum)
      .orderBy(col("logw_e6").desc, col(idCol))
    // stratum sizes as a tiny aggregate + broadcast join, NOT an
    // unbounded count().over(partitionBy(stratum)) — perplexityFlag's
    // device: the window form re-traverses every stratum partition
    // just to learn its size. NULL-SAFE equality on the stratum key:
    // groupBy and the rank window both treat NULL as its own group,
    // and a plain equi-join would silently drop NULL-stratum docs
    // (review finding).
    val sizes = scored.groupBy(stratum).agg(count(lit(1)).as("cnt"))
      .withColumnRenamed(stratum, "__st")
    scored
      .withColumn("rn", row_number().over(w))
      .join(broadcast(sizes), col(stratum) <=> col("__st"))
      .select(col(idCol), col(stratum), col("n_feat"), col("logw_e6"),
        when(col("rn") * 10000 <= col("cnt") * keepBp, 1L).otherwise(0L)
          .as("selected"))
  }

  private def dsirLnq(c: Column): Column =
    round(log(c.cast("double")) * lit(1000000.0), 0).cast("long")

  /** (id, stratum, b) hashed-feature projection of a corpus — the
    * shared front of the DSIR family. `targetSource` rides along only
    * in the count aggregate. */
  private def dsirBuckets(docs: DataFrame, targetSource: String,
      buckets: Int, stratum: String, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), col(stratum),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .withColumn("b", pmod(TextFunctions.hash60(col("token")),
        lit(buckets.toLong)))
      .withColumn("__t", when(col(stratum) === lit(targetSource), 1L)
        .otherwise(0L))
      .select(col(idCol), col(stratum), col("b"), col("__t"))

  /** The `buckets`-row (b, c_raw, c_tgt) distribution table. */
  private def dsirCountsOf(tb: DataFrame): DataFrame =
    tb.groupBy("b").agg(count(lit(1)).as("c_raw"),
      sum("__t").as("c_tgt"))

  /** Per-document DSIR log importance weights of `tb`'s documents
    * against a (possibly foreign) distribution table — add-one
    * smoothing, micro-ln BIGINT sums; buckets unseen by the
    * distribution contribute lnq(1)=0 through the left join. */
  private def dsirDocScores(tb: DataFrame, counts: DataFrame, buckets: Int,
      idCol: String, stratum: String): DataFrame = {
    val tot = counts.agg(sum("c_raw").as("n_raw"), sum("c_tgt").as("n_tgt"))
    tb.join(broadcast(counts), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        dsirLnq(coalesce(col("c_tgt"), lit(0L)) + 1) -
          dsirLnq(col("n_tgt") + buckets) -
          dsirLnq(coalesce(col("c_raw"), lit(0L)) + 1) +
          dsirLnq(col("n_raw") + buckets))
      .groupBy(col(idCol), col(stratum))
      .agg(count(lit(1)).as("n_feat"), sum("lp").as("logw_e6"))
  }

  /** The landed corpus's memoized DSIR distribution table (kind
    * "dsir-counts") — `buckets` rows, reused batch over batch.
    * Derived by FOLDING the memoized per-doc histogram
    * ([[landedDsirDocBuckets]]) instead of re-exploding the corpus:
    * c_raw = Σ n per bucket, c_tgt = Σ n over target-stratum rows —
    * identical integers at histogram cost, and the gate family's
    * three landed DSIR kinds now share ONE tokenize pass (the r17
    * index phase paid three). */
  def landedDsirCounts(landed: DataFrame, targetSource: String,
      buckets: Int = 1024, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "dsir-counts", targetSource,
        buckets, stratum, idCol, textCol),
      landedDsirDocBuckets(landed, targetSource, buckets, stratum, idCol,
        textCol)
        .groupBy("b")
        .agg(sum("n").as("c_raw"),
          sum(when(col(stratum) === lit(targetSource), col("n"))
            .otherwise(0L)).as("c_tgt")))

  /** The landed corpus's memoized per-stratum DSIR selection thresholds
    * (kind "dsir-thresholds"): θ_s = the minimum log weight among the
    * landed stratum's top-`keepBp` integer-rank quantile — one row per
    * stratum. The corpus-wide scoring+rank behind it is the one-time
    * index build the incremental contract amortizes — computed over
    * the memoized per-doc histogram ([[landedDsirDocBuckets]]) through
    * the SAME [[dsirDocScoresFromHist]]→[[dsirThresholdsOf]] tail as
    * the absorb path ([[absorbDsir]]), so the one-shot build and the
    * merged-artifact rebuild are one pipeline (identical integers by
    * construction, not just by proof) and no landed token is exploded
    * twice. */
  def landedDsirThresholds(landed: DataFrame, targetSource: String,
      buckets: Int = 1024, keepBp: Int = 2000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "dsir-thresholds", targetSource,
        buckets, keepBp, stratum, idCol, textCol), {
        val hist = landedDsirDocBuckets(landed, targetSource, buckets,
          stratum, idCol, textCol)
        val counts = landedDsirCounts(landed, targetSource, buckets,
          stratum, idCol, textCol)
        dsirThresholdsOf(
          dsirDocScoresFromHist(hist, counts, buckets, idCol, stratum),
          keepBp, stratum, idCol)
      })

  /** Post-gate MIXTURE SHIFT report — the question a pipeline asks
    * right after the q129 admit decision: how did dedup/selection move
    * the mixture? Per source of the incoming batch: docs/tokens in,
    * docs/tokens admitted, and the token-share mixture weight BEFORE
    * vs AFTER the gate (ppm) — a source whose w_after collapses below
    * its w_before is being eaten by the gate (heavy duplication or a
    * DSIR mismatch), exactly the signal that sends an operator to the
    * q167/q169 threshold dials or the q90 weight solver.
    *
    * Exactness: weights are ONE cross-multiplied DECIMAL(38,0)
    * division each (the q179 rep_ppm device — no share is ever divided
    * first, 100 TB token counts cannot wrap); w_after is NULL when the
    * gate admitted nothing. Scale: the gate's own evidence (memoized
    * via the gate-evidence kind when a repeated-batch caller opts in
    * with `memoizeEvidence = true`) + one batch tokenize-count + a
    * sources-sized aggregate; totals fold over that |sources|-row
    * table with one unpartitioned window (provably tiny input). The
    * stratum column of BOTH doc frames is `stratum` — renamed to the
    * gate family's canonical `source` before the gate, so the gate's
    * DSIR stage stratifies by it and the report groups by it (one
    * meaning; the output column stays `source`). Frames must not carry
    * a conflicting `source` column when `stratum` names another. */
  def mixtureShiftReport(landedDocs: DataFrame, batchDocs: DataFrame,
      landedEmb: DataFrame, batchEmb: DataFrame, targetSource: String,
      centroidOffset: Int = 8, minCosine: Double = 0.3,
      coarseFactor: Int = 5, keepBp: Int = 2000,
      textCol: String = "text", idCol: String = "doc_id",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      stratum: String = "source",
      memoizeEvidence: Boolean = false): DataFrame = {
    // a non-canonical stratum column renames to the gate family's
    // canonical `source` on BOTH doc frames BEFORE the gate — the
    // gate's DSIR stage stratifies on `source` internally, so without
    // the rename the advertised stratum parameter could not reach it
    // (review finding). Frames must not carry a CONFLICTING `source`
    // column next to the stratum column.
    val ld = if (stratum == "source") landedDocs
      else landedDocs.withColumnRenamed(stratum, "source")
    val bd = if (stratum == "source") batchDocs
      else batchDocs.withColumnRenamed(stratum, "source")
    // memoizeEvidence defaults FALSE: the natural production shape is
    // one report per distinct batch, and per-batch frames have unique
    // fingerprints — memoizing would leak one persisted gate-evidence
    // entry per call (the streaming gate's per-trigger leak class).
    // A repeated-batch caller (the q129/q189 bench pair gates the SAME
    // slices) opts in explicitly to share the gate-evidence memo.
    val verdicts = graft.dedup.Dedup.ingestGate(ld, bd,
      landedEmb, batchEmb, targetSource, centroidOffset, minCosine,
      coarseFactor, keepBp, textCol, idCol, vecIdCol, vecCol,
      memoizeEvidence)
    val toks = bd.select(col(idCol), col("source"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tok"))
    val per = toks.join(verdicts, Seq(idCol))
      .groupBy("source")
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("gate") === "admit", 1L).otherwise(0L))
          .as("n_admitted"),
        sum("n_tok").as("tokens_in"),
        sum(when(col("gate") === "admit", col("n_tok")).otherwise(0L))
          .as("tokens_admitted"))
    // totals via an unpartitioned window over the SOURCES-sized per
    // table (provably tiny — |sources| rows), not a crossJoin of
    // per.agg(...): that embeds per's whole plan twice and re-runs
    // the batch tokenize + verdict join per execution (review finding)
    val w = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("ti", sum("tokens_in").over(w))
      .withColumn("ta", sum("tokens_admitted").over(w))
      .select(col("source"), col("n_in"), col("n_admitted"),
        col("tokens_in"), col("tokens_admitted"),
        expr("""CAST(CAST(tokens_in AS DECIMAL(38,0)) * 1000000
                div ti AS BIGINT)""").as("w_before_ppm"),
        when(col("ta") > 0,
          expr("""CAST(CAST(tokens_admitted AS DECIMAL(38,0)) * 1000000
                  div ta AS BIGINT)""")).as("w_after_ppm"))
  }

  /** MIXTURE REBALANCE — ACT on the q189 report: the ingest gate
    * admits each source at its own survival rate, silently reweighting
    * the corpus mixture; this operator derives per-source correction
    * rates that EQUALIZE token survival across sources (every source
    * is brought down to the binding source's rate, so the admitted
    * mixture returns to the batch's incoming token shares — "the gate
    * must not reweight the corpus") and realizes them as the
    * [[stratifiedSample]] hash cut over the admitted docs — the
    * deterministic, append-stable draw every sampling cell uses.
    *
    * Exactness: `surv_ppm_s = tokens_admitted_s·1e6 div tokens_in_s`
    * (DECIMAL(38,0)-widened), `m = min surviving surv_ppm`,
    * `keep_ppm_s = m·1e6 div surv_ppm_s` (the binding source gets
    * exactly 1e6 — keeps everything), kept iff
    * `hash60(idCol) % 1e6 < keep_ppm_s`. Every column replays in SQL,
    * so the q210 oracle hash-checks measure, correction AND draw.
    * A source whose every token was rejected has no admitted rows to
    * emit; an empty batch emits nothing.
    *
    * Scale: the gate's own evidence + one batch tokenize + a
    * sources-sized aggregate; the min folds over that |sources|-row
    * table with one unpartitioned window (provably tiny); the draw is
    * one codegen'd filter column over admitted rows. Output: one row
    * per ADMITTED doc — (idCol, source, surv_ppm, keep_ppm, kept). */
  def mixtureRebalance(landedDocs: DataFrame, batchDocs: DataFrame,
      landedEmb: DataFrame, batchEmb: DataFrame, targetSource: String,
      centroidOffset: Int = 8, minCosine: Double = 0.3,
      coarseFactor: Int = 5, keepBp: Int = 2000,
      textCol: String = "text", idCol: String = "doc_id",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      stratum: String = "source",
      memoizeEvidence: Boolean = false): DataFrame = {
    val ld = if (stratum == "source") landedDocs
      else landedDocs.withColumnRenamed(stratum, "source")
    val bd = if (stratum == "source") batchDocs
      else batchDocs.withColumnRenamed(stratum, "source")
    val verdicts = graft.dedup.Dedup.ingestGate(ld, bd,
      landedEmb, batchEmb, targetSource, centroidOffset, minCosine,
      coarseFactor, keepBp, textCol, idCol, vecIdCol, vecCol,
      memoizeEvidence)
    val toks = bd.select(col(idCol), col("source"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tok"))
    val j = toks.join(verdicts, Seq(idCol))
    val per = j.groupBy("source")
      .agg(sum("n_tok").as("ti_s"),
        sum(when(col("gate") === "admit", col("n_tok")).otherwise(0L))
          .as("ta_s"))
      .withColumn("surv_ppm",
        expr("""CAST(CAST(ta_s AS DECIMAL(38,0)) * 1000000 div ti_s
                AS BIGINT)"""))
    // min over the |sources|-row aggregate — provably tiny window
    val w = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val kr = per
      .withColumn("m",
        min(when(col("surv_ppm") > 0, col("surv_ppm"))).over(w))
      .withColumn("keep_ppm",
        when(col("surv_ppm") > 0,
          expr("""CAST(CAST(m AS DECIMAL(38,0)) * 1000000 div surv_ppm
                  AS BIGINT)""")).otherwise(0L))
      .select(col("source"), col("surv_ppm"), col("keep_ppm"))
    j.filter(col("gate") === "admit")
      .join(broadcast(kr), Seq("source"))
      .select(col(idCol), col("source"), col("surv_ppm"), col("keep_ppm"),
        when(pmod(TextFunctions.hash60(col(idCol).cast("string")),
          lit(1000000L)) < col("keep_ppm"), 1L).otherwise(0L).as("kept"))
  }

  /** The corpus-side BM25 statistics table — per-(doc, token) term
    * frequency with doc length and document frequency attached, the
    * lexical INDEX every BM25-family query probes (kind "bm25-stats":
    * a retrieval system computes these once per corpus, never per
    * query — the same landed-artifact principle as every other
    * memoized index). One tokenize + two hash aggregates + one
    * token-keyed join; rows = distinct (doc, token). At 100 TB the dl
    * and df projections would be their own artifacts next to this one
    * — here they derive from the cached table (one in-memory column
    * scan + distinct each). */
  def bm25Stats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(docs, "bm25-stats", idCol, textCol), {
        val tok = docs.select(col(idCol),
          explode(TextFunctions.tokens(col(textCol))).as("tok"))
        val tf = tok.groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
        val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
        val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        tf.join(dfr, "tok").join(dl, idCol)
      })

  /** Absorb an ADMITTED batch into the landed [[bm25Stats]] index —
    * the LEXICAL-retrieval cell of the absorb family
    * ([[graft.dedup.Dedup.absorbBatch]]): seeds "bm25-stats" for the
    * GROWN corpus (`landed2Docs`, the frame the next
    * [[hybridRrfTopKServed]] / BM25-family call receives) without
    * re-tokenizing the landed corpus. Per column of the index:
    *
    *  - `tf` and `dl` are doc-local — the batch contributes its own
    *    tokenize (batch-sized), landed rows carry over verbatim;
    *  - `df` is the one corpus-global column: landed and admitted doc
    *    id sets are disjoint (append-only allocation, the same
    *    contract every absorb cell rests on), so the grown df is a
    *    plain per-token SUM of the landed df and the batch's df delta
    *    — landed rows update through ONE join against the
    *    batch-vocab-sized delta (broadcast at production scale), batch
    *    rows symmetrically pick up the landed per-token df.
    *
    * The union is integer-exact against the one-shot [[bm25Stats]]
    * build over landed ∪ admitted (AbsorbIndexSpec pins it; the q196
    * oracle replays the whole gate → absorb → serve chain in SQL).
    * Corpus aggregates (n_docs, total_len, idf) derive downstream from
    * the merged rows, so nothing else needs re-deriving. */
  def absorbBm25(landedDocs: DataFrame, admitted: DataFrame,
      landed2Docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val bm = bm25Stats(landedDocs, idCol, textCol)
    val btok = admitted.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val btf = btok.groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val bdl = btok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val bdf = btf.groupBy("tok").agg(count(lit(1)).as("bdf"))
    // both df-merge joins are batch-vocab-keyed: the landed side joins
    // the BROADCAST batch delta (never shuffles the corpus-scale
    // index), and the batch side reads the landed per-token df through
    // a broadcast semi-prune (corpus-vocab table cut to batch tokens
    // BEFORE the join, so nothing vocab-scale ever ships)
    val lRows = bm.join(broadcast(bdf), Seq("tok"), "left")
      .withColumn("df", col("df") + coalesce(col("bdf"), lit(0L)))
      .select(col(idCol), col("tok"), col("tf"), col("df"), col("dl"))
    val ldf = bm.select(col("tok"), col("df").as("ldf")).distinct()
      .join(broadcast(bdf.select("tok")), Seq("tok"))
    val bRows = btf.join(broadcast(bdf), "tok").join(bdl, idCol)
      .join(broadcast(ldf), Seq("tok"), "left")
      .withColumn("df", col("bdf") + coalesce(col("ldf"), lit(0L)))
      .select(col(idCol), col("tok"), col("tf"), col("df"), col("dl"))
    // seedLazy: lRows reads the persisted landed index through a
    // broadcast join — persisting the union would re-cache a
    // corpus-scale copy per absorbed batch (see CacheRegistry.seedLazy)
    graft.util.CacheRegistry.seedLazy(
      graft.util.CacheRegistry.key(landed2Docs, "bm25-stats", idCol,
        textCol),
      lRows.unionByName(bRows))
    ()
  }

  /** HYBRID lexical+semantic retrieval via reciprocal-rank fusion —
    * the standard two-system production shape (BM25 recovers exact
    * terms an embedding smooths away; the embedding recovers
    * paraphrases BM25 cannot see; RRF fuses WITHOUT calibrating the
    * incomparable score scales, Cormack et al. 2009). Per query doc
    * (id ≡ 0 mod `queryStride`, owning both a text row and an
    * embedding row — the corpus's aligned id space):
    *
    *  1. *lexical*: the query doc's `kTerms` RAREST tokens (df asc,
    *     token asc — the deterministic more-like-this term selection)
    *     score the corpus with q71's integer-e6 BM25; top-`depth` by
    *     (score desc, id).
    *  2. *semantic*: exact-cosine top-`depth`
    *     ([[graft.similarity.Similarity.bruteForceTopK]], the q21
    *     baseline — swap in `ivfTopK`/`lshTopK` at scale, the ranks
    *     fuse identically).
    *  3. *fuse*: rrf contribution = ⌊1e9 / (rrfK + rank)⌋ per system
    *     (integer floor division — exact in both engines), summed per
    *     (query, doc); final top-`k` by (rrf desc, id).
    *
    * Self-hits are excluded on both systems. A doc ranked by only one
    * system still fuses (the union is the candidate set — absence of
    * the other system's vote is a smaller sum, never a drop). Scale:
    * both systems are the independently-probed retrieval operators;
    * fusion adds one union + an id-keyed sum + a per-query window over
    * ≤ 2·depth rows. Output: (q_id, rnk, idCol, rrf_e9). */
  def hybridRrfTopK(docs: DataFrame, embeddings: DataFrame, k: Int = 5,
      depth: Int = 20, kTerms: Int = 8, rrfK: Int = 60,
      queryStride: Int = 100, idCol: String = "doc_id",
      textCol: String = "text", vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val annRanks = graft.similarity.Similarity.bruteForceTopK(embeddings,
        embeddings.filter(pmod(col(vecIdCol), lit(queryStride.toLong)) === 0),
        depth, vecIdCol, vecCol)
      .select(col("q_id"), col("vec_id").as(idCol), col("rank").as("rnk"))
    rrfFuse(bm25QueryRanks(docs, depth, kTerms, queryStride, idCol,
      textCol), annRanks, k, rrfK, idCol)
  }

  /** [[hybridRrfTopK]] with the semantic side SERVED from the landed
    * IVF-PQ index ([[graft.similarity.Similarity.ivfPqTopKServed]] —
    * memoized routed assignment + PQ codes, probe/ADC/rerank per
    * query) instead of the brute-force corpus scan — the shape a
    * 100 TB retrieval deployment runs: the lexical side probes the
    * memoized bm25-stats index, the semantic side probes the memoized
    * ANN index, and ONLY the fusion is fresh work per query batch.
    * Ranks fuse identically (both sides emit (q_id, id, rnk)); at
    * exhaustive `nprobe`/`rerankFactor` the fused output is
    * exactly [[hybridRrfTopK]]'s (rank parity, HybridServedSpec). */
  def hybridRrfTopKServed(docs: DataFrame, embeddings: DataFrame,
      k: Int = 5, depth: Int = 20, kTerms: Int = 8, rrfK: Int = 60,
      queryStride: Int = 100, nprobe: Int = 3, m: Int = 4,
      codeStride: Int = 25, codeOffset: Int = 7, ivfStride: Int = 50,
      ivfOffset: Int = 11, rerankFactor: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val annRanks = graft.similarity.Similarity.ivfPqTopKServed(embeddings,
        embeddings.filter(pmod(col(vecIdCol), lit(queryStride.toLong)) === 0),
        depth, nprobe, m, codeStride, codeOffset, ivfStride, ivfOffset,
        rerankFactor, vecIdCol, vecCol)
      .select(col("q_id"), col("vec_id").as(idCol), col("rank").as("rnk"))
    rrfFuse(bm25QueryRanks(docs, depth, kTerms, queryStride, idCol,
      textCol), annRanks, k, rrfK, idCol)
  }

  /** Serving-quality audit of the SERVED hybrid face — the q145/q159
    * pattern applied to retrieval: per query, how much of the
    * brute-force fused top-k does the index-served fusion deliver?
    * overlap@k as an exact ppm (cross-multiplied DECIMAL(38,0)
    * division — no float share). The number an operator watches after
    * an ANN parameter change or a codebook rebuild: a collapsing
    * overlap sends them to the nprobe/rerank dials (q145) before any
    * user sees degraded retrieval. Cost: both fused pipelines (each
    * probing its memoized indexes) + one (q_id, doc)-keyed join over
    * ≤ 2k rows per query. Output (q_id, k_eval, n_overlap,
    * overlap_ppm). */
  def hybridServedAudit(docs: DataFrame, embeddings: DataFrame,
      k: Int = 5, depth: Int = 20, kTerms: Int = 8, rrfK: Int = 60,
      queryStride: Int = 100, nprobe: Int = 3, rerankFactor: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val brute = hybridRrfTopK(docs, embeddings, k, depth, kTerms, rrfK,
      queryStride, idCol, textCol, vecIdCol, vecCol)
      .select(col("q_id"), col(idCol))
    val served = hybridRrfTopKServed(docs, embeddings, k, depth, kTerms,
      rrfK, queryStride, nprobe = nprobe, rerankFactor = rerankFactor,
      idCol = idCol, textCol = textCol, vecIdCol = vecIdCol,
      vecCol = vecCol)
      .select(col("q_id"), col(idCol)).withColumn("m", lit(1L))
    brute.join(served, Seq("q_id", idCol), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).cast("long").as("k_eval"),
        sum(coalesce(col("m"), lit(0L))).cast("long").as("n_overlap"))
      .withColumn("overlap_ppm",
        expr("""CAST(CAST(n_overlap AS DECIMAL(38,0)) * 1000000
                div k_eval AS BIGINT)"""))
  }

  /** The lexical side of the hybrid family: per query doc, its
    * `kTerms` rarest tokens score the corpus with q71's integer-e6
    * BM25 over the memoized [[bm25Stats]] index; top-`depth` ranks by
    * (score desc, id). Output (q_id, idCol, rnk). */
  private def bm25QueryRanks(docs: DataFrame, depth: Int, kTerms: Int,
      queryStride: Int, idCol: String, textCol: String): DataFrame = {
    val bm = bm25Stats(docs, idCol, textCol)
    bm25ScoreRanks(bm,
      rarestTerms(
        bm.filter(pmod(col(idCol), lit(queryStride.toLong)) === 0)
          .select(col(idCol).as("q_id"), col("tok")),
        bm, kTerms), depth, idCol)
  }

  /** Query-term selection shared by the corpus-stride and
    * explicit-query faces: the `kTerms` RAREST corpus tokens (df asc,
    * tok asc — deterministic) of each query's distinct token set.
    * Query tokens absent from the corpus vocabulary drop (no df — they
    * can score nothing anyway), exactly the corpus-side face's
    * semantics. `qToks` is (q_id, tok), distinct per query. */
  private def rarestTerms(qToks: DataFrame, bm: DataFrame,
      kTerms: Int): DataFrame = {
    val dfr = bm.select(col("tok"), col("df")).distinct()
    val wq = Window.partitionBy("q_id")
      .orderBy(col("df").asc, col("tok").asc)
    qToks.join(dfr, "tok")
      .withColumn("trk", row_number().over(wq))
      .filter(col("trk") <= kTerms)
      .select("q_id", "tok")
  }

  /** The corpus-scoring tail of the BM25 query face: given the
    * selected query terms `qq(q_id, tok)`, score every corpus doc
    * holding any of them with q71's integer-e6 BM25 over the memoized
    * index `bm`, rank per query, keep top-`depth`. */
  private def bm25ScoreRanks(bm: DataFrame, qq: DataFrame, depth: Int,
      idCol: String): DataFrame = {
    val tf = bm.select(col(idCol), col("tok"), col("tf"))
    val dl = bm.select(col(idCol), col("dl")).distinct()
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("total_len"))
    val dfr = bm.select(col("tok"), col("df")).distinct()
    val bmScored = qq
      .join(tf, "tok").join(dfr, "tok").join(dl, idCol)
      .filter(col(idCol) =!= col("q_id"))
      .crossJoin(broadcast(stats)) // one-row stats: fused scan
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("s_e6", round(
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
            (col("total_len").cast("double") / col("n_docs"))))
          * lit(1000000)).cast("long"))
      .groupBy("q_id", idCol).agg(sum("s_e6").as("score_e6"))
    val wb = Window.partitionBy("q_id")
      .orderBy(col("score_e6").desc, col(idCol).asc)
    bmScored.withColumn("rnk", row_number().over(wb))
      .filter(col("rnk") <= depth)
      .select(col("q_id"), col(idCol), col("rnk"))
  }

  /** [[hybridRrfTopKServed]] for an EXPLICIT query batch — the face a
    * retrieval SERVICE runs per request batch (and the streaming face
    * [[graft.streaming.RetrieveStream]] runs per trigger): each query
    * record carries its own text and embedding; the lexical side
    * tokenizes the query text and selects its `kTerms` rarest corpus
    * terms against the memoized [[bm25Stats]] df table, the semantic
    * side probes the memoized IVF-PQ kinds — NO corpus-side work is
    * query-batch-sized. For a query whose (id, text, embedding) equal
    * a corpus row's, the answer is exactly the corpus-stride face's
    * (the tokenizer is the same one [[bm25Stats]] indexed with, so the
    * query's distinct token set equals its corpus tf rows — pinned by
    * RetrieveStreamSpec). Self-hits are excluded by id on both
    * systems, as across the family.
    *
    * `queryDocs` is (q_id, text); `queryEmb` is (q_id, embedding) —
    * ids must agree row-wise for the fusion to mean anything. */
  def hybridRrfTopKServedQueries(docs: DataFrame, embeddings: DataFrame,
      queryDocs: DataFrame, queryEmb: DataFrame, k: Int = 5,
      depth: Int = 20, kTerms: Int = 8, rrfK: Int = 60, nprobe: Int = 3,
      m: Int = 4, codeStride: Int = 25, codeOffset: Int = 7,
      ivfStride: Int = 50, ivfOffset: Int = 11, rerankFactor: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bm = bm25Stats(docs, idCol, textCol)
    val qToks = queryDocs.select(col("q_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .distinct()
    val bmRanks = bm25ScoreRanks(bm, rarestTerms(qToks, bm, kTerms),
      depth, idCol)
    val annRanks = graft.similarity.Similarity.ivfPqTopKServed(
        embeddings,
        queryEmb.select(col("q_id").as(vecIdCol), col(vecCol)),
        depth, nprobe, m, codeStride, codeOffset, ivfStride, ivfOffset,
        rerankFactor, vecIdCol, vecCol)
      .select(col("q_id"), col("vec_id").as(idCol), col("rank").as("rnk"))
    rrfFuse(bmRanks, annRanks, k, rrfK, idCol)
  }

  /** The fusion tail of the hybrid family: rrf contribution =
    * ⌊1e9 / (rrfK + rank)⌋ per system (integer floor division — exact
    * in both engines), summed per (query, doc); final top-`k` by
    * (rrf desc, id). */
  private def rrfFuse(bmRanks: DataFrame, annRanks: DataFrame, k: Int,
      rrfK: Int, idCol: String): DataFrame = {
    val fused = bmRanks.unionByName(annRanks)
      .withColumn("rrf", expr(s"1000000000 div ($rrfK + rnk)"))
      .groupBy("q_id", idCol).agg(sum("rrf").as("rrf_e9"))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf_e9").desc, col(idCol).asc)
    fused.withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col(idCol), col("rrf_e9"))
  }

  /** The rank-quantile tail shared by [[landedDsirThresholds]] and the
    * absorb path ([[absorbDsir]]) — one definition so the threshold a
    * merged-artifact rebuild computes can never drift from the one-shot
    * build's. `scored` is a (idCol, stratum, …, logw_e6) frame. */
  private def dsirThresholdsOf(scored: DataFrame, keepBp: Int,
      stratum: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(col("logw_e6").desc, col(idCol))
    // stratum sizes via aggregate + null-safe broadcast join, as
    // dsirSelect
    val sizes = scored.groupBy(stratum).agg(count(lit(1)).as("cnt"))
      .withColumnRenamed(stratum, "__st")
    scored
      .withColumn("rn", row_number().over(w))
      .join(broadcast(sizes), col(stratum) <=> col("__st"))
      .filter(col("rn") * 10000 <= col("cnt") * keepBp)
      .groupBy(stratum).agg(min("logw_e6").as("logw_cut"))
  }

  /** The landed corpus's memoized per-document hashed-feature HISTOGRAM
    * (kind "dsir-doc-buckets"): (idCol, stratum, b, n) — at most
    * `buckets` rows per document, append-mergeable (per-doc rows, plain
    * union). This is the artifact that makes the DSIR THRESHOLD
    * absorbable: a landed doc's score under a new distribution is
    * Σ_b n·lp_b — an exact integer fold over this table — so absorbing
    * a batch re-prices every landed doc WITHOUT re-tokenizing a single
    * landed byte (the token explode, the expensive pass, is paid once
    * per doc ever). */
  def landedDsirDocBuckets(landed: DataFrame, targetSource: String,
      buckets: Int = 1024, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "dsir-doc-buckets", targetSource,
        buckets, stratum, idCol, textCol),
      dsirDocBucketsOf(dsirBuckets(landed, targetSource, buckets, stratum,
        idCol, textCol), idCol, stratum))

  private def dsirDocBucketsOf(tb: DataFrame, idCol: String,
      stratum: String): DataFrame =
    tb.groupBy(col(idCol), col(stratum), col("b"))
      .agg(count(lit(1)).as("n"))

  /** [[dsirDocScores]] over the per-doc bucket HISTOGRAM instead of the
    * per-token projection — identical integers (Σ over tokens of lp_b
    * = Σ_b n·lp_b; n_feat = Σ_b n), at histogram cost. */
  private def dsirDocScoresFromHist(hist: DataFrame, counts: DataFrame,
      buckets: Int, idCol: String, stratum: String): DataFrame = {
    val tot = counts.agg(sum("c_raw").as("n_raw"), sum("c_tgt").as("n_tgt"))
    hist.join(broadcast(counts), Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        dsirLnq(coalesce(col("c_tgt"), lit(0L)) + 1) -
          dsirLnq(col("n_tgt") + buckets) -
          dsirLnq(coalesce(col("c_raw"), lit(0L)) + 1) +
          dsirLnq(col("n_raw") + buckets))
      .groupBy(col(idCol), col(stratum))
      .agg(sum("n").as("n_feat"), sum(col("lp") * col("n")).as("logw_e6"))
  }

  /** Absorb an ADMITTED batch into the landed DSIR artifacts — the
    * data-selection cell of the absorb family ([[graft.dedup.Dedup.absorbBatch]]):
    * seeds the "dsir-counts", "dsir-thresholds" and "dsir-doc-buckets"
    * registry entries of the GROWN landed corpus (`landed2Docs`, the
    * frame the next gate call will pass as its landed side) from the
    * memoized landed artifacts plus batch-sized partials — never
    * re-tokenizing a landed document:
    *
    *  - counts: per-bucket sum-merge (≤ `buckets` rows each side);
    *  - doc-buckets: plain union (per-doc rows; admitted ids are fresh
    *    under append-only allocation);
    *  - thresholds: the one artifact a naive merge can't produce —
    *    every landed doc's weight moves when the distribution does —
    *    recomputed EXACTLY from (merged histogram × merged counts)
    *    through the same [[dsirThresholdsOf]] tail as the one-shot
    *    build, at histogram-join cost instead of corpus-scan cost.
    *
    * Equality with the one-shot rebuild over (landed ∪ admitted) is
    * integer-exact (oracle-proven by the q184 gate round-trip). */
  def absorbDsir(landedDocs: DataFrame, admitted: DataFrame,
      landed2Docs: DataFrame, targetSource: String, buckets: Int = 1024,
      keepBp: Int = 2000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import graft.util.CacheRegistry
    val histL = landedDsirDocBuckets(landedDocs, targetSource, buckets,
      stratum, idCol, textCol)
    val tbB = dsirBuckets(admitted, targetSource, buckets, stratum, idCol,
      textCol)
    // seedLazy across the DSIR cells: the landed components are
    // persisted under their own kinds (see CacheRegistry.seedLazy)
    val hist2 = CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Docs, "dsir-doc-buckets", targetSource,
        buckets, stratum, idCol, textCol),
      histL.unionByName(dsirDocBucketsOf(tbB, idCol, stratum)))
    val countsL = landedDsirCounts(landedDocs, targetSource, buckets,
      stratum, idCol, textCol)
    val counts2 = CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Docs, "dsir-counts", targetSource, buckets,
        stratum, idCol, textCol),
      countsL.unionByName(dsirCountsOf(tbB))
        .groupBy("b")
        .agg(sum("c_raw").as("c_raw"), sum("c_tgt").as("c_tgt")))
    CacheRegistry.seedLazy(
      CacheRegistry.key(landed2Docs, "dsir-thresholds", targetSource,
        buckets, keepBp, stratum, idCol, textCol),
      dsirThresholdsOf(
        dsirDocScoresFromHist(hist2, counts2, buckets, idCol, stratum),
        keepBp, stratum, idCol))
    ()
  }

  /** RETRACT deleted documents from the landed DSIR artifacts — the
    * data-selection cell of the retract family
    * ([[graft.dedup.Dedup.retractBatch]]): seeds "dsir-doc-buckets",
    * "dsir-counts" and "dsir-thresholds" for the KEPT corpus without
    * re-tokenizing a kept document. The per-doc histogram anti-joins
    * the delete set; the distribution table and the thresholds then
    * derive from the retracted histogram through the SAME fold and
    * [[dsirDocScoresFromHist]]→[[dsirThresholdsOf]] tail as the
    * one-shot build ([[landedDsirCounts]]/[[landedDsirThresholds]]) —
    * equality with the rebuild over the kept corpus holds by
    * construction, not just by proof. */
  def retractDsir(landedDocs: DataFrame, deleteIds: DataFrame,
      kept2Docs: DataFrame, targetSource: String, buckets: Int = 1024,
      keepBp: Int = 2000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import graft.util.CacheRegistry
    val del = deleteIds.select(col(deleteIds.columns.head).as(idCol))
    // seedLazy across the retract cells (see CacheRegistry.seedLazy)
    val hist2 = CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Docs, "dsir-doc-buckets", targetSource,
        buckets, stratum, idCol, textCol),
      landedDsirDocBuckets(landedDocs, targetSource, buckets, stratum,
        idCol, textCol)
        .join(broadcast(del), Seq(idCol), "left_anti"))
    val counts2 = CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Docs, "dsir-counts", targetSource, buckets,
        stratum, idCol, textCol),
      hist2.groupBy("b")
        .agg(sum("n").as("c_raw"),
          sum(when(col(stratum) === lit(targetSource), col("n"))
            .otherwise(0L)).as("c_tgt")))
    CacheRegistry.seedLazy(
      CacheRegistry.key(kept2Docs, "dsir-thresholds", targetSource,
        buckets, keepBp, stratum, idCol, textCol),
      dsirThresholdsOf(
        dsirDocScoresFromHist(hist2, counts2, buckets, idCol, stratum),
        keepBp, stratum, idCol))
    ()
  }

  /** RETRACT deleted documents from the landed [[bm25Stats]] index —
    * the lexical-retrieval cell of the retract family: the kept
    * corpus's index is the landed table minus the deleted docs' rows
    * (tf/dl are doc-local), with `df` — the one corpus-global column —
    * DECREMENTED per token by the deleted docs' holdings, which come
    * from the INDEX'S OWN tf rows for the delete set (batch-sized; no
    * kept or deleted document is re-tokenized). A token whose every
    * holder is deleted simply has no kept rows left — the decrement
    * only ever lands on surviving rows, so df can never reach zero on
    * a row that exists. */
  def retractBm25(landedDocs: DataFrame, deleteIds: DataFrame,
      kept2Docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val bm = bm25Stats(landedDocs, idCol, textCol)
    val del = deleteIds.select(col(deleteIds.columns.head).as(idCol))
    val delDf = bm.join(broadcast(del), Seq(idCol))
      .groupBy("tok").agg(count(lit(1)).as("ddf"))
    // seedLazy: the anti-join reads the persisted landed index (see
    // CacheRegistry.seedLazy)
    graft.util.CacheRegistry.seedLazy(
      graft.util.CacheRegistry.key(kept2Docs, "bm25-stats", idCol,
        textCol),
      bm.join(broadcast(del), Seq(idCol), "left_anti")
        .join(broadcast(delDf), Seq("tok"), "left")
        .withColumn("df", col("df") - coalesce(col("ddf"), lit(0L)))
        .select(col(idCol), col("tok"), col("tf"), col("df"), col("dl")))
    ()
  }

  /** Incremental DSIR scoring for append-only ingest — the
    * data-selection cell of the incremental matrix: an incoming batch
    * scores against the LANDED corpus's distributions and the LANDED
    * per-stratum selection thresholds, so verdicts are
    * batch-order-independent (a batch must not move the distributions
    * or thresholds it is judged by — the landed-codebook principle of
    * the q117/q122 semantic faces applied to data selection).
    *
    * Landed side contributes two memoized artifacts —
    * [[landedDsirCounts]] (`buckets` rows) and [[landedDsirThresholds]]
    * (one row per stratum), both broadcast; per-batch cost is the
    * batch's own token→bucket projection plus two broadcast joins.
    * Batch strata with no landed threshold (unseen stratum, or a
    * landed stratum too small to select anyone at `keepBp`) yield
    * selected = 0 — no evidence, no admission. A batch doc tying the
    * threshold exactly is admitted (θ is the minimum selected landed
    * weight). Output as [[dsirSelect]]: (idCol, stratum, n_feat,
    * logw_e6, selected), one row per incoming doc with ≥ 1 token. */
  def dsirScoreIncrement(landed: DataFrame, incoming: DataFrame,
      targetSource: String, buckets: Int = 1024, keepBp: Int = 2000,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val counts = landedDsirCounts(landed, targetSource, buckets, stratum,
      idCol, textCol)
    val th = landedDsirThresholds(landed, targetSource, buckets, keepBp,
      stratum, idCol, textCol)
    val scored = dsirDocScores(
      dsirBuckets(incoming, targetSource, buckets, stratum, idCol, textCol),
      counts, buckets, idCol, stratum)
    scored.join(broadcast(th), Seq(stratum), "left")
      .select(col(idCol), col(stratum), col("n_feat"), col("logw_e6"),
        when(col("logw_cut").isNotNull &&
          col("logw_e6") >= col("logw_cut"), 1L).otherwise(0L)
          .as("selected"))
  }

  /** Lexicon SCRUB — denylist redaction, the dictionary face of the
    * scrubbing family a training pipeline runs before release (strip a
    * site's boilerplate vocabulary, a blocked-entity list, a leaked
    * credential dictionary): every token exactly matching a `terms`
    * entry is replaced by `placeholder`, and the per-document hit
    * count rides along as the audit column. Token-EQUALITY semantics
    * (the corpus tokenizer's own split, [[graft.functions.TextFunctions.tokens]])
    * — not substring or regex — so a term can never bleed into a
    * larger word and the oracle replays it as a list transform.
    * Output: (idCol, n_hits, scrubbed). Scale: one projection, no
    * shuffle, whole-stage-codegen'd higher-order functions; the term
    * set is a broadcast-sized literal array. The REGEX face (PII
    * classes — emails, phones, IPs) is the existing [[redactPii]]
    * (q82, oracle-checked over a salted fixture); this is its
    * dictionary twin for term sets regexes over-match (a denylist
    * entry like "vector" must not hit "vectorized"). */
  def scrubReport(docs: DataFrame, terms: Seq[String],
      placeholder: String = "[REDACTED]", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "scrubReport needs at least one term")
    val lits = terms.map(lit(_))
    val tk = TextFunctions.tokens(col(textCol))
    docs.select(col(idCol),
      size(filter(tk, t => t.isin(lits: _*))).cast("long").as("n_hits"),
      array_join(transform(tk,
        t => when(t.isin(lits: _*), lit(placeholder)).otherwise(t)),
        " ").as("scrubbed"))
  }

  /** Trained quality classifier (the fastText-style filter of
    * CCNet/LLaMA-era pipelines: label "does this look like the
    * high-quality reference source?", score everything, keep the
    * confident): logistic regression over hashed-unigram counts
    * ([[dsirSelect]]'s fixed `buckets`-dim feature space + a bias),
    * trained by `rounds` full-batch gradient-descent steps with
    * label y = (stratum == targetSource).
    *
    * Engine-reproducible training despite float σ: each step keeps the
    * weight vector in e6 BIGINT units and quantizes exactly once —
    * z_d = Σ_b w_e6[b]·x_db (an EXACT integer dot product),
    * r_d = round((σ(z_d/1e6) − y_d)·1e6) (the only float op, rounded
    * immediately), gradient g_b = Σ_d r_d·x_db (exact integer,
    * order-independent under any partitioning), update
    * w ← w − round(g·lr/N). The oracle replays the identical unrolled
    * rounds, so every intermediate weight table is pinned.
    *
    * Scale: the per-round shuffles are (doc, bucket)-keyed hash
    * aggregates over ≤ `buckets`+1 columns; the weight table
    * (`buckets`+1 rows) broadcasts, and the per-round driver fold
    * collects exactly that many gradient rows — model size is a
    * constant, corpus cost is `rounds` linear scans. This is the
    * standard distributed-LR shape (aggregate gradients, broadcast
    * weights); a production run raises `buckets` and `rounds` without
    * changing any shuffle.
    *
    * Output: one row per document — (idCol, stratum, label, z_e6,
    * predicted) under the final weights, predicted = z ≥ 0. */
  def qualityClassifier(docs: DataFrame, targetSource: String,
      buckets: Int = 64, rounds: Int = 3, lr: Double = 0.5,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    qualityClassifierFromParts(Seq(docs), targetSource, buckets, rounds,
      lr, stratum, idCol, textCol)

  /** [[qualityClassifier]] trained data-parallel over disjoint document
    * slices — the DISTRIBUTED-TRAINING cell of the mergeable family
    * (q104/q135/q136/q137's pattern applied to GRADIENTS): each GD
    * round's gradient g_b = Σ_d r_d·x_db is a plain integer sum over
    * documents, and r_d depends only on document d's own features and
    * the FROZEN broadcast weights, so per-slice partial gradients fold
    * by sum to the exact full-corpus gradient. The weight trajectory —
    * and therefore the final model and every score — is bit-identical
    * to the one-shot training; the oracle IS the one-shot unrolled
    * replay, so the hash match is the data-parallelism proof. This is
    * the property a 1000-executor LR fit rests on (each worker ships
    * `buckets`+1 gradient rows per round, never its data); the one-shot
    * face delegates here with a single slice (one pipeline).
    *
    * Exactness: identical to [[qualityClassifier]]'s contract — integer
    * dot products and gradients, σ e6-rounded the instant it appears,
    * HALF_UP weight update over the COMBINED N (slice counts are
    * additive). Per-slice feature tables are memoized independently
    * (kind "qc-features", keyed on each slice's plan), so a landed
    * slice's features persist across rounds and sessions while each new
    * slice adds only its own build. */
  def qualityClassifierFromParts(slices: Seq[DataFrame],
      targetSource: String, buckets: Int = 64, rounds: Int = 3,
      lr: Double = 0.5, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(slices.nonEmpty, "at least one document slice")
    val spark = slices.head.sparkSession
    import spark.implicits._
    val tbs = slices.map(d =>
      qcFeatures(d, targetSource, buckets, stratum, idCol, textCol))
    val w = qcTrainWeights(slices, targetSource, buckets, rounds, lr,
      stratum, idCol, textCol)
    val wF = w.toSeq.toDF("b", "w")
    slices.zip(tbs).map { case (d, tb) =>
      qcZAgg(tb, wF, idCol)
        .join(d.select(col(idCol), col(stratum)), idCol)
        .select(col(idCol), col(stratum), col("y").as("label"),
          col("z").as("z_e6"),
          when(col("z") >= 0, 1L).otherwise(0L).as("predicted"))
    }.reduce(_ unionByName _)
  }

  /** One scoring pass: exact integer dot product of each doc's hashed
    * features against a broadcast weight table — the shared kernel of
    * training rounds, the final scoring pass, and the policy faces. */
  private def qcZAgg(tb: DataFrame, wDf: DataFrame,
      idCol: String): DataFrame =
    tb.join(broadcast(wDf), "b")
      .groupBy(col(idCol))
      .agg(sum(col("w") * col("x")).as("z"), max("y").as("y"))

  /** The extracted training loop of [[qualityClassifierFromParts]] —
    * `rounds` full-batch GD steps over the slices' memoized feature
    * tables, returning the final e6-integer weight vector. One
    * definition so the one-shot face, the data-parallel face, and
    * [[classifierRebuildPolicy]]'s retrain branch can never drift. */
  def qcTrainWeights(slices: Seq[DataFrame], targetSource: String,
      buckets: Int = 64, rounds: Int = 3, lr: Double = 0.5,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): Map[Int, Long] = {
    require(buckets > 0 && rounds >= 1, "buckets, rounds must be positive")
    require(slices.nonEmpty, "at least one document slice")
    val spark = slices.head.sparkSession
    import spark.implicits._
    val tbs = slices.map(d =>
      qcFeatures(d, targetSource, buckets, stratum, idCol, textCol))
    // combined N: slice cardinalities are additive over a disjoint split
    val n = slices.map(_.count()).sum.toDouble
    var w: Map[Int, Long] = (0 to buckets).map(_ -> 0L).toMap
    (1 to rounds).foreach { _ =>
      val wDf = w.toSeq.toDF("b", "w")
      // per-slice partial gradients (≤ buckets+1 rows each), folded by
      // plain sum — exactly the full-corpus gradient at the frozen w
      val grad = tbs.map { tb =>
        qcZAgg(tb, wDf, idCol)
          .withColumn("r", round(
            (lit(1.0) / (lit(1.0) + exp(-col("z").cast("double") / 1e6)) -
              col("y")) * 1e6).cast("long"))
          .select(col(idCol), col("r"))
          .join(tb, idCol)
          .groupBy("b")
          .agg(sum(col("r") * col("x")).as("g"))
      }.reduce(_ unionByName _)
        .groupBy("b").agg(sum(col("g")).as("g"))
        .collect() // ≤ buckets+1 rows: the model, not the data
      w = w ++ grad.map { row =>
        val b = row.getInt(0)
        // HALF_UP (away from zero), matching both engines' round() —
        // scala math.round floors at negative halves and would drift
        val d = BigDecimal(row.getLong(1).toDouble * lr / n)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
        b -> (w(b) - d)
      }
    }
    w
  }

  /** The landed corpus's memoized classifier WEIGHTS (kind
    * "qc-weights", buckets+1 rows) — the frozen model artifact every
    * [[classifierRebuildPolicy]] call scores batches under; trained
    * once per landed corpus (the bpe-release / drift-landed-res
    * idiom: a property of the landed corpus that never changes between
    * retrains). */
  def landedQcWeights(landed: DataFrame, targetSource: String,
      buckets: Int = 64, rounds: Int = 3, lr: Double = 0.5,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = landed.sparkSession
    import spark.implicits._
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "qc-weights", targetSource,
        buckets, rounds, stratum, idCol, textCol),
      qcTrainWeights(Seq(landed), targetSource, buckets, rounds, lr,
        stratum, idCol, textCol).toSeq.toDF("b", "w"))
  }

  /** The landed corpus's memoized PASS-RATE baseline (kind
    * "qc-landed-rate", one row: n docs, n predicted-positive) under
    * its own [[landedQcWeights]] — the denominator of the policy's
    * drift measure. */
  def landedQcPassRate(landed: DataFrame, targetSource: String,
      buckets: Int = 64, rounds: Int = 3, lr: Double = 0.5,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "qc-landed-rate", targetSource,
        buckets, rounds, stratum, idCol, textCol),
      qcZAgg(
        qcFeatures(landed, targetSource, buckets, stratum, idCol, textCol),
        landedQcWeights(landed, targetSource, buckets, rounds, lr,
          stratum, idCol, textCol), idCol)
        .agg(count(lit(1)).as("n"),
          sum(when(col("z") >= 0, 1L).otherwise(0L)).as("n_pass")))

  /** Drift-triggered classifier RETRAIN policy — the q197/q207 control
    * loop applied to the trained quality filter, completing the
    * measure→decide→act matrix for the third corpus-derived artifact
    * family (ANN codebooks q197, tokenizer q207, classifier here).
    * Measures the batch's PASS RATE (fraction predicted positive, ppm)
    * under the FROZEN landed weights against the landed corpus's own
    * memoized baseline ([[landedQcPassRate]]); `drift_ppm = batch −
    * landed` (a filter whose pass rate shifts is scoring a different
    * distribution than it was trained on — the operational dial).
    * Trips iff `|drift_ppm| > maxDriftPpm` (pass rates drift BOTH ways
    * and both are evidence): retrains over the caller's grown corpus
    * ([[qcTrainWeights]], the one training loop), publishes the weight
    * table as `releaseId` (kind "qc-release" — idempotent re-publish;
    * a different bucket count under a published name throws), and
    * scores the batch through the PUBLISHED pin; untripped scores
    * under the frozen landed weights and publishes nothing. An empty
    * batch has no evidence: keep, NULL drift, zero rows.
    *
    * The q208 oracle replays measure + decide + BOTH scoring branches
    * (two full unrolled GD chains) with the final select gated on the
    * decision scalar. Decision collects are one-row bounded; the rate
    * arithmetic is BigInt floor division on non-negative operands ≡
    * HUGEINT `//`. Output: (action, drift_ppm, idCol, stratum, label,
    * z_e6, predicted), one row per batch doc. */
  def classifierRebuildPolicy(landed: DataFrame, incoming: DataFrame,
      grown: DataFrame, targetSource: String, releaseId: String,
      maxDriftPpm: Long, buckets: Int = 64, rounds: Int = 3,
      lr: Double = 0.5, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.util.CacheRegistry
    def rateOf(r: org.apache.spark.sql.Row): Option[BigInt] =
      if (r.isNullAt(0) || r.getLong(0) == 0L || r.isNullAt(1)) None
      else Some(BigInt(r.getLong(1)) * 1000000 / BigInt(r.getLong(0)))
    val baseRate = rateOf(landedQcPassRate(landed, targetSource, buckets,
      rounds, lr, stratum, idCol, textCol).collect()(0))
    val lw = landedQcWeights(landed, targetSource, buckets, rounds, lr,
      stratum, idCol, textCol)
    // batch features are NOT memoized (memoize=false): a per-trigger
    // registry entry keyed on each batch frame is the streaming-gate
    // leak class; the rate collect + served output re-derive the
    // batch-sized build instead
    val btb = qcFeatures(incoming, targetSource, buckets, stratum, idCol,
      textCol, memoize = false)
    val frozenZ = qcZAgg(btb, lw, idCol)
    val batchRate = rateOf(frozenZ
      .agg(count(lit(1)).as("n"),
        sum(when(col("z") >= 0, 1L).otherwise(0L)).as("n_pass"))
      .collect()(0))
    val drift = for { b <- batchRate; l <- baseRate } yield b - l
    val trip = drift.exists(d => d.abs > maxDriftPpm)
    val served =
      if (trip) {
        val key = CacheRegistry.key(grown, "qc-release", targetSource,
          releaseId)
        // a release NAME is immutable across corpora too: the key
        // embeds the grown plan's fingerprint, so publishing the same
        // releaseId over a DIFFERENT corpus would otherwise create a
        // second coexisting release under one name with no immutability
        // check (ADVICE-r18) — scan by kind+releaseId prefix and fail
        // loudly on a fingerprint mismatch
        val prefix = s"qc-release:$targetSource:$releaseId:"
        CacheRegistry.entries.keys
          .find(k => k.startsWith(prefix) && k != key)
          .foreach { _ =>
            throw new IllegalStateException(
              s"classifierRebuildPolicy: release '$releaseId' is already " +
                "published over a DIFFERENT corpus plan — releases are " +
                "immutable; publish under a new releaseId and switch " +
                "serving")
          }
        CacheRegistry.entries.get(key).foreach { pin =>
          // the pin carries its training parameters as metadata columns
          // (ADVICE-r18: rounds/lr were not in the key, so a re-publish
          // with the same name+corpus but different rounds/lr passed the
          // bucket guard and silently served the OLD weights). Null-safe
          // one-row read: a zero-row pin must hit the contract message,
          // not an NPE.
          // legacy pins (saved before the metadata columns existed)
          // still guard on buckets alone rather than failing analysis
          val pinM =
            if (pin.columns.contains("rounds")) pin
            else pin.withColumn("rounds", lit(rounds))
              .withColumn("lr", lit(lr))
          val p = pinM.agg(max("b").as("b"), max("rounds").as("rounds"),
            max("lr").as("lr")).collect()(0)
          def cell(i: Int): String =
            if (p.isNullAt(i)) "none" else p.get(i).toString
          require(!p.isNullAt(0) && p.getInt(0) == buckets &&
              !p.isNullAt(1) && p.getInt(1) == rounds &&
              !p.isNullAt(2) && p.getDouble(2) == lr,
            s"classifierRebuildPolicy: release '$releaseId' is already " +
              s"published with different training parameters (buckets " +
              s"${cell(0)} vs $buckets, rounds ${cell(1)} vs $rounds, " +
              s"lr ${cell(2)} vs $lr) — releases are immutable; publish " +
              "under a new releaseId and switch serving")
        }
        val spark = grown.sparkSession
        import spark.implicits._
        val pinned = CacheRegistry.cache(key,
          qcTrainWeights(Seq(grown), targetSource, buckets, rounds, lr,
            stratum, idCol, textCol).toSeq.toDF("b", "w")
            .withColumn("rounds", lit(rounds))
            .withColumn("lr", lit(lr)))
        qcZAgg(btb, pinned.select("b", "w"), idCol)
      } else frozenZ
    served
      .join(incoming.select(col(idCol), col(stratum)), idCol)
      .select(
        lit(if (trip) "rebuild" else "keep").as("action"),
        drift.map(d => lit(d.toLong)).getOrElse(lit(null)).cast("long")
          .as("drift_ppm"),
        col(idCol), col(stratum), col("y").as("label"),
        col("z").as("z_e6"),
        when(col("z") >= 0, 1L).otherwise(0L).as("predicted"))
  }

  /** The classifier's feature table — (doc, y, bucket, count) + bias
    * rows, hash-partitioned ON THE DOC ID and memoized (kind
    * "qc-features"): every GD round's z aggregate and r⋈features join
    * AND the final scoring pass read one cached build exchange-free
    * (an eager unpersist before the output was consumed used to make
    * the final pass rebuild the whole pipeline). The label rides along
    * (constant per doc) so no per-round label join exists. Released
    * like every memoized family table via [[graft.util.CacheRegistry]];
    * exposed for the bench index phase. */
  def qcFeatures(docs: DataFrame, targetSource: String, buckets: Int = 64,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text", memoize: Boolean = true): DataFrame = {
    val yCol = when(col(stratum) === targetSource, 1L).otherwise(0L)
    def build = docs.select(col(idCol), yCol.as("y"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .withColumn("b", pmod(TextFunctions.hash60(col("token")),
        lit(buckets.toLong)).cast("int"))
      .groupBy(col(idCol), col("y"), col("b"))
      .agg(count(lit(1)).as("x"))
      .unionByName(docs.select(col(idCol), yCol.as("y"),
        lit(buckets).as("b"), lit(1L).as("x"))) // bias feature
      .repartition(col(idCol))
    // memoize=false is the PER-BATCH face ([[classifierRebuildPolicy]]
    // scoring an incoming batch): a registry entry keyed on each
    // batch's frame would leak one persisted build per trigger — the
    // streaming-gate leak class (r17 review). Training corpora keep
    // the memo: every GD round reads it.
    if (!memoize) build
    else graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(docs, "qc-features", targetSource,
        buckets, stratum, idCol, textCol),
      build)
  }

  /** Temperature-scaled corpus rebalancing (the multilingual-training
    * mixture rule): stratum `s` is sampled at a rate proportional to
    * `count_s^(α-1)` with α = 0.5, i.e. weight √count — big strata are
    * DOWN-weighted so the mix flattens toward uniform while preserving
    * order. `targetFrac` scales the whole mixture (expected kept ≈
    * targetFrac · N). Per-stratum keep rates become per-million integer
    * thresholds on `hash60(key)` — the [[stratifiedSample]] mechanism —
    * so the draw is reproducible and append-stable. Deterministic across
    * engines BY CONSTRUCTION: the only irrational op is `sqrt`, which
    * IEEE requires correctly rounded (unlike ln/pow), and both engines
    * evaluate the identical expression tree on identical integers.
    * Everything is one tiny count aggregate + one broadcast join + one
    * scan — no shuffle of the corpus. */
  def temperatureSample(df: DataFrame, stratum: String, key: Column,
      targetFrac: Double): DataFrame = {
    require(targetFrac > 0 && targetFrac <= 1, "targetFrac in (0, 1]")
    // each √count is quantized to integer micro-units BEFORE the sum:
    // a float sum of irrational sqrts is addition-order-dependent in the
    // last ulp (and engines order partials differently), but an integer
    // sum is order-free — so the weight total is exact on both engines
    val counts = df.groupBy(stratum).agg(count(lit(1)).as("__cnt"))
      .withColumn("__sq", floor(sqrt(col("__cnt")) * 1e6).cast("long"))
    val tot = counts.agg(
      sum(col("__sq")).as("__sw"),
      sum(col("__cnt")).as("__n"))
    // one double chain per stratum over exact-integer inputs, identical
    // op order on both engines, floored to ppm once at the end
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("__ppm", least(lit(1000000L),
        floor(lit(targetFrac) * col("__n") * col("__sq") /
          col("__sw") / col("__cnt") * 1e6).cast("long")))
      .select(col(stratum), col("__ppm"))
    df.join(broadcast(rates), stratum)
      .filter(pmod(TextFunctions.hash60(key), lit(1000000L)) < col("__ppm"))
      .drop("__ppm")
  }

  /** Deterministic fixed-size per-stratum sample: exactly `min(k, |stratum|)`
    * rows per stratum, chosen as the k smallest `hash60(key)` values —
    * a reservoir sample whose "random" order is a stable hash, so the
    * selection is reproducible across engines/runs and stable under
    * appends in expectation. Complements [[stratifiedSample]] (fixed
    * RATE, size varies) with fixed SIZE — the shape an eval-set build
    * needs. The rank window sorts within each stratum; for a stratum too
    * big to sort, pre-filter with [[stratifiedSample]] at a few × k/|n|
    * first (hash-prefix filtering composes: the k smallest survive any
    * prefix cut that keeps ≥ k). */
  def stratumSampleK(df: DataFrame, stratum: String, key: Column,
      k: Int): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(TextFunctions.hash60(key), key)
    df.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .drop("__rnk")
  }

  /** WEIGHTED fixed-k sample per stratum, without replacement — the
    * length-aware cousin of [[stratumSampleK]] (a token-budgeted
    * corpus wants long documents proportionally more often than a
    * per-doc coin flip gives them). Priority sampling (Duffield–
    * Lund–Thorup): each row draws the deterministic uniform
    * hash60(key) ∈ [0, 2^60) and competes with priority
    * `hash60(key) div weight` — keep the k smallest per stratum, so
    * P(selected) grows ∝ weight while remaining a pure function of
    * the row (idempotent retries, append-stable: landed rows keep
    * their priorities; a new row only enters by beating the current
    * k-th). Rows with weight ≤ 0 are excluded (their priority is
    * +∞ in the real-valued scheme). Integer division only — every
    * engine agrees on every priority, ties broken by the key's
    * string form (q53's device).
    *
    * Mergeable: bottom-k of a union is the bottom-k of concatenated
    * per-slice bottom-k partials — the KMV/q151 shape — so 1000
    * executors each ship k·strata rows, never their data. The
    * one-shot face delegates to the partials fold (one pipeline);
    * the oracle replays the one-shot rank, so its hash match proves
    * the merge exact. */
  def weightedSamplePartials(df: DataFrame, stratum: String, key: Column,
      weight: Column, k: Int): DataFrame =
    weightedSampleFromPartials(
      df.select(col(stratum), key.as("sample_key"),
          weight.cast("long").as("weight"),
          TextFunctions.hash60(key).as("__h"))
        .filter(col("weight") > 0)
        .withColumn("prio", expr("__h div weight"))
        .drop("__h"),
      stratum, k)

  /** Bottom-k fold of [[weightedSamplePartials]] outputs (idempotent:
    * folding a fold is a no-op). */
  def weightedSampleFromPartials(parts: DataFrame, stratum: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(stratum)
      .orderBy(col("prio"), col("sample_key").cast("string"))
    parts.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .drop("__rnk")
  }

  /** One-shot weighted sample — delegates through the partials fold. */
  def weightedSampleK(df: DataFrame, stratum: String, key: Column,
      weight: Column, k: Int): DataFrame =
    weightedSampleFromPartials(
      weightedSamplePartials(df, stratum, key, weight, k), stratum, k)

  /** The one-pass sketch form of [[distributionStats]] — the 100 TB
    * production path its scaladoc names. `approx_percentile` is a
    * mergeable quantile sketch, so it map-side combines like any
    * aggregate: one scan, one tiny-state shuffle per stratum, no
    * per-stratum sort, no window. `accuracy` trades sketch size for
    * rank error (ε ≈ 1/accuracy); the exact form stays the accuracy
    * oracle (CurationSpec pins the error bound against it). */
  def approxDistributionStats(df: DataFrame, stratum: String,
      valueCol: String, pctsBp: Seq[Int],
      accuracy: Int = 10000): DataFrame = {
    val pcts = array(pctsBp.map(p => lit(p / 10000.0)): _*)
    df.groupBy(stratum)
      .agg(percentile_approx(col(valueCol), pcts, lit(accuracy)).as("vals"))
      .select(col(stratum),
        posexplode(col("vals")).as(Seq("i", "value")))
      .withColumn("pct",
        element_at(array(pctsBp.map(p => lit(p / 10000.0)): _*),
          col("i") + 1))
      .select(col(stratum), col("pct"), col("value"))
  }

  /** Per-stratum cardinality by HyperLogLog++ — `approx_count_distinct`
    * is the only distinct count that survives 100 TB (exact distinct is
    * a full shuffle of every distinct value; the HLL sketch is a few KB
    * per group, map-side merged). `rsd` is the target relative standard
    * deviation (default 5%); CurationSpec pins the realized error
    * against the exact count. */
  def cardinalityStats(df: DataFrame, stratum: String, keyCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(stratum)
      .agg(approx_count_distinct(col(keyCol), rsd).as("approx_distinct"),
        count(lit(1)).as("n_rows"))

  /** Corpus-bigram language-model scoring: each document's mean log
    * conditional bigram probability under the corpus MLE model
    * `P(b|a) = count(a b) / count(a ·)` — the classic cheap fluency /
    * outlier signal (gibberish and boilerplate both sit far from the
    * corpus model). Narrow keyed shuffles only: bigram counts by gram,
    * prefix counts folded from the bigram table (never a second corpus
    * pass), one per-doc aggregation. The ln of each
    * count-ratio is quantized to integer micro-units BEFORE summing
    * (same engine-reproducibility device as [[tfidfTopTerms]]), so the
    * per-doc sum is exact integer arithmetic; `avg_logp` is the one
    * trailing IEEE division. Output: (id, n_bigrams, sum_logp_e6,
    * avg_logp). */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // one scoring pipeline, shared with the mergeable face (the CMS
    // pair's delegation pattern): the one-shot model IS the partials
    // of the whole corpus folded once
    bigramLogProbFromPartials(lmPartials(docs, textCol), docs, idCol,
      textCol)

  /** Mergeable bigram-LM partials — (g, n_ab), the language-model
    * analogue of [[mixturePartials]]: bigram counts are PLAIN SUMS, so
    * a landed corpus's partials persist once and each new batch
    * contributes its own rows; [[bigramLogProbFromPartials]] over
    * their union scores under the exact full-corpus MLE model without
    * ever rescanning landed data. The prefix totals n_a fold from the
    * merged bigram table at score time (they are NOT stored — storing
    * them would double-count under union), which keeps the partial a
    * single mergeable table. */
  def lmPartials(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_ab"))

  /** [[bigramLogProb]] scoring under an LM folded from ANY union of
    * [[lmPartials]] outputs — exact: integer counts merge by sum, the
    * micro-ln quantization happens only after the fold, so the merged
    * path is bit-identical to the one-shot corpus LM (the q104
    * mergeability pattern applied to the model itself; the oracle IS
    * the one-shot scorer). Output as [[bigramLogProb]]:
    * (idCol, n_bigrams, sum_logp_e6, avg_logp). */
  def bigramLogProbFromPartials(partials: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cntAb = partials.groupBy("g").agg(sum(col("n_ab")).as("n_ab"))
    val cntA = cntAb
      .groupBy(substring_index(col("g"), " ", 1).as("a"))
      .agg(sum(col("n_ab")).as("n_a"))
    docs.select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
      .join(cntAb, "g")
      .join(cntA, substring_index(col("g"), " ", 1) === col("a"))
      .withColumn("logp_e6",
        round(log(col("n_ab").cast("double") / col("n_a")) * 1e6, 0)
          .cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("logp_e6")).as("sum_logp_e6"))
      .withColumn("avg_logp",
        col("sum_logp_e6").cast("double") / lit(1e6) / col("n_bigrams"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney '95; the
    * Chen & Goodman '99 interpolated form) — the real LM smoothing the
    * MLE face ([[bigramLogProb]]) lacks: unseen-continuation mass is
    * redistributed by how many distinct contexts a word FOLLOWS, not
    * how often it occurs:
    *
    *   p_KN(b|a) = max(c(ab)−D, 0)/c(a) + D·N1+(a·)/c(a) · N1+(·b)/N
    *
    * With absolute discount D = 3/4 the probability is the EXACT
    * integer ratio
    *   (max(4·c(ab)−3, 0)·N + 3·N1+(a·)·N1+(·b)) / (4·c(a)·N)
    * so each token's log-prob is lnq(num) − lnq(den) in micro-ln
    * BIGINTs and per-doc sums are order-independent integers — the
    * q89/q95 exactness device applied to a smoothed LM. Numerator and
    * denominator are DECIMAL(38,0)-widened before the ln cast (BIGINT
    * products wrap at 100 TB bigram masses; DuckDB's HUGEINT is the
    * oracle twin; both engines' integer→double casts are
    * correctly-rounded, so the rounded micro-ln agrees).
    *
    * Scale: all model tables fold the BIGRAM table, not the corpus —
    * prefix totals and right-fertility N1+(a·) in one aggregate,
    * continuation counts N1+(·b) in another, N a one-row broadcast;
    * the per-token join is g-keyed (q89's shape). Documents with fewer
    * than two tokens have no bigrams and no row. Output: (idCol,
    * n_bigrams, sum_knlogp_e6), ascending idCol order left to the
    * caller. */
  def kneserNeyLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bigrams = docs.select(col(idCol),
      explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
    val cntAb = bigrams.groupBy("g").agg(count(lit(1)).as("n_ab"))
    val byA = cntAb.groupBy(substring_index(col("g"), " ", 1).as("a"))
      .agg(sum("n_ab").as("n_a"), count(lit(1)).as("fert_a"))
    val byB = cntAb.groupBy(substring_index(col("g"), " ", -1).as("b"))
      .agg(count(lit(1)).as("cont_b"))
    val nTot = cntAb.agg(count(lit(1)).as("nn"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    bigrams
      .join(cntAb, "g")
      .join(byA, substring_index(col("g"), " ", 1) === col("a"))
      .join(byB, substring_index(col("g"), " ", -1) === col("b"))
      .crossJoin(broadcast(nTot))
      .withColumn("num",
        dec(greatest(col("n_ab") * 4 - 3, lit(0L))) * dec(col("nn")) +
          dec(col("fert_a") * 3) * dec(col("cont_b")))
      .withColumn("den", dec(col("n_a") * 4) * dec(col("nn")))
      .withColumn("logp_e6",
        round(log(col("num").cast("double")) * 1e6, 0).cast("long") -
          round(log(col("den").cast("double")) * 1e6, 0).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum("logp_e6").as("sum_knlogp_e6"))
  }

  /** GPT-style sequence packing: documents are concatenated in id order
    * and cut every `maxTokens` tokens; a document therefore occupies
    * sequences `first_seq .. last_seq` of its shard. Packing is
    * per-shard (`shard = doc_id mod nShards`) — the industry-standard
    * sharded pack — because a single global prefix sum would funnel the
    * corpus through one partition; per shard the running offset is a
    * window cumsum over id order, which shuffles once on the shard key
    * and scales with shard count. Token counts use the BPE-ish
    * pre-tokenizer ([[TextFunctions.regexTokens]]); tokenless documents
    * are dropped (they occupy no sequence).
    *
    * Output per surviving doc: (doc_id, shard, n_tokens, start_offset,
    * first_seq, last_seq, n_seqs). */
  def packSequences(docs: DataFrame, maxTokens: Int, nShards: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol),
        pmod(col(idCol), lit(nShards)).cast("int").as("shard"),
        size(TextFunctions.regexTokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_seq", floor(col("start_offset") / lit(maxTokens)))
      .withColumn("last_seq",
        floor((col("start_offset") + col("n_tokens") - 1) / lit(maxTokens)))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Length-bucketed NO-SPLIT packing report — the SFT/instruction-
    * tuning counterpart of [[packSequences]]: when documents must not
    * cross sequence boundaries, padding waste appears, and the
    * standard distributed answer is length-bucketed packing — same-
    * length docs pack `k = maxTokens div len` to a sequence by plain
    * rank arithmetic, no sequential first-fit scan anywhere. This
    * face prices that plan: per length class, docs, k, sequences,
    * padded tokens and utilization — the report that says whether the
    * bucketing is tight enough or maxTokens should move.
    *
    * Exact integers: n_seqs = ceil-div, padding = n_seqs·maxTokens −
    * n·len, utilization in ppm by truncating division of non-negative
    * longs. Docs longer than maxTokens cannot pack no-split and are
    * counted under the sentinel class len = −1 (k/n_seqs/padding 0,
    * utilization NULL) — totality, nothing silently dropped.
    *
    * Scale: one tokenization projection → one groupBy(len) — the
    * report is value-histogram-sized (≤ maxTokens rows), never
    * corpus-sized; the packing itself (seq = rank div k within class)
    * is a class-partitioned window any executor count absorbs.
    * Output: (len, n_docs, k_per_seq, n_seqs, padding_tokens,
    * utilization_ppm). */
  def bucketedPackReport(docs: DataFrame, maxTokens: Int,
      textCol: String = "text"): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be positive")
    val lens = docs
      .select(size(TextFunctions.regexTokens(col(textCol))).cast("long")
        .as("len"))
      .filter(col("len") > 0)
    val cls = lens.groupBy("len").agg(count(lit(1)).as("n_docs"))
    cls.select(
      when(col("len") > maxTokens, lit(-1L)).otherwise(col("len"))
        .as("len"),
      col("n_docs"), col("len").as("__l"))
      .groupBy("len").agg(sum("n_docs").as("n_docs"),
        sum(col("n_docs") * col("__l")).as("tok"))
      .select(col("len"), col("n_docs"),
        when(col("len") > 0, expr(s"${maxTokens}L div len"))
          .otherwise(lit(0L)).as("k_per_seq"),
        col("tok"))
      .select(col("len"), col("n_docs"), col("k_per_seq"),
        when(col("len") > 0,
          expr("(n_docs + k_per_seq - 1) div k_per_seq"))
          .otherwise(lit(0L)).as("n_seqs"),
        col("tok"))
      .select(col("len"), col("n_docs"), col("k_per_seq"), col("n_seqs"),
        when(col("len") > 0,
          col("n_seqs") * lit(maxTokens.toLong) - col("tok"))
          .otherwise(lit(0L)).as("padding_tokens"),
        when(col("len") > 0,
          expr(s"tok * 1000000 div (n_seqs * ${maxTokens}L)"))
          .as("utilization_ppm"))
  }

  /** Per-shard training-output manifest — the delivery contract a
    * dataloader consumes: for each output shard of
    * [[packSequences]]'s deterministic packing, the document count,
    * token total, sequence count, id range, and an order-independent
    * content digest (Σ hash60(id:tokens) mod 1e9+7 — an integer sum,
    * so any partitioning, any retry, and the SQL oracle agree; the
    * digest is what lets a resumed 100 TB job prove shard N is
    * byte-complete without re-reading it). One aggregate over the
    * packing table: the manifest costs one map-side-combined shuffle
    * of `nShards` rows beyond the packing itself.
    *
    * Output: (shard, n_docs, n_tokens, n_seqs, first_id, last_id,
    * content_digest). */
  def shardManifest(docs: DataFrame, maxTokens: Int, nShards: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    packSequences(docs, maxTokens, nShards, idCol, textCol)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        (max("last_seq") + 1).as("n_seqs"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"),
        // per-term mod keeps each term < 1e9+7; the DECIMAL(38,0) sum
        // cannot wrap at any corpus size (the q96 widening device)
        sum(pmod(TextFunctions.hash60(
            concat_ws(":", col(idCol), col("n_tokens"))),
          lit(1000000007L)).cast("decimal(38,0)")).as("__ds"))
      .withColumn("content_digest",
        expr("CAST(__ds % 1000000007 AS BIGINT)"))
      .drop("__ds")

  /** Per-shard manifest PARTIAL over one document slice — every column
    * of [[shardManifest]] merges trivially (plain sums, min/max, a
    * mod-p digest sum) except n_seqs, which is DERIVED from the folded
    * token total at fold time, so the delivery manifest of a 100 TB
    * output folds from slice partials without re-reading any landed
    * shard: the RESUMED-WRITER cell of the mergeable family
    * (q135/q136/q137/q140's shape applied to the delivery contract
    * itself). Output: (shard, n_docs, n_tokens, first_id, last_id,
    * ds_mod) — ds_mod already folded mod 1e9+7, itself sum-mergeable. */
  def shardManifestPartials(docs: DataFrame, nShards: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        pmod(col(idCol), lit(nShards)).cast("int").as("shard"),
        size(TextFunctions.regexTokens(col(textCol))).cast("long")
          .as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min(col(idCol)).as("first_id"), max(col(idCol)).as("last_id"),
        sum(pmod(TextFunctions.hash60(
            concat_ws(":", col(idCol), col("n_tokens"))),
          lit(1000000007L)).cast("decimal(38,0)")).as("__ds"))
      .withColumn("ds_mod", expr("CAST(__ds % 1000000007 AS BIGINT)"))
      .drop("__ds")

  /** Fold slice partials to the EXACT [[shardManifest]] of the union:
    * n_seqs = (n_tokens − 1) div maxTokens + 1 — the packing is a
    * contiguous per-shard concatenation, so the sequence count depends
    * only on the folded token total, never on doc order; the digest
    * sum is associative mod p. Schema identical to [[shardManifest]]. */
  def shardManifestFromPartials(parts: DataFrame,
      maxTokens: Int): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    parts.groupBy("shard")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("first_id").as("first_id"), max("last_id").as("last_id"),
        sum(col("ds_mod").cast("decimal(38,0)")).as("__ds"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens - 1) div $maxTokens + 1").as("n_seqs"),
        col("first_id"), col("last_id"),
        expr("CAST(__ds % 1000000007 AS BIGINT)").as("content_digest"))
  }

  /** The landed slice's memoized manifest partial (kind
    * "shard-manifest") — nShards rows, built once per landed corpus. */
  def landedShardManifest(landed: DataFrame, nShards: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "shard-manifest", nShards,
        idCol, textCol),
      shardManifestPartials(landed, nShards, idCol, textCol))

  /** [[shardManifest]] rebuilt after an append WITHOUT re-reading the
    * landed corpus: the landed partial is the memoized nShards-row
    * artifact above, the batch ships its own partial, and the fold is
    * exact — the answer contract is the one-shot manifest over
    * landed∪batch (the oracle replays exactly that, so the hash match
    * IS the merge proof). A resumed delivery re-manifests at the cost
    * of the BATCH, and the digest proves the landed shards stayed
    * byte-complete without re-reading them. */
  def shardManifestIncrement(landed: DataFrame, batch: DataFrame,
      maxTokens: Int, nShards: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    shardManifestFromPartials(
      landedShardManifest(landed, nShards, idCol, textCol)
        .unionByName(shardManifestPartials(batch, nShards, idCol, textCol)),
      maxTokens)

  /** Calibration (reliability) report for [[qualityClassifier]] — the
    * audit that says whether the filter's scores MEAN anything before
    * a pipeline thresholds on them: documents bucketed by fixed-width
    * z bins, each bin's empirical positive rate beside its mean
    * predicted probability, gap = predicted − empirical (over-
    * confidence positive, under-confidence negative). σ is e6-rounded
    * the instant it appears (training's own float-once device), both
    * rate divisions have non-negative operands, and the bin index is
    * an exact double floor (|z| ≪ 2⁵³, width 2e6: the quotient is
    * either exactly integral or ≥ 5e-7 from it — no boundary
    * misrounding exists for either engine). The gap is a SUBTRACTION
    * of two non-negative ppm values — no negative-operand division.
    *
    * Scale: one `nBins`-row aggregate over the classifier's scored
    * output — the report is model-sized, the cost is the (already
    * distributed) scoring pass. Output: (bin, n, n_pos, pos_rate_ppm,
    * avg_p_ppm, gap_ppm), ordered by bin. */
  def classifierCalibration(docs: DataFrame, targetSource: String,
      buckets: Int = 64, rounds: Int = 3, lr: Double = 0.5,
      binWidthE6: Long = 2000000L, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(binWidthE6 > 0, "binWidthE6 must be positive")
    qualityClassifier(docs, targetSource, buckets, rounds, lr, stratum,
        idCol, textCol)
      .withColumn("p_e6",
        round(lit(1000000.0) /
          (lit(1.0) + exp(-col("z_e6").cast("double") / lit(1000000.0))))
          .cast("long"))
      .withColumn("bin",
        floor(col("z_e6").cast("double") / lit(binWidthE6.toDouble))
          .cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("label").as("n_pos"),
        sum("p_e6").as("__sp"))
      .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n"))
      .withColumn("avg_p_ppm", expr("__sp div n"))
      .withColumn("gap_ppm", col("avg_p_ppm") - col("pos_rate_ppm"))
      .drop("__sp")
  }

  /** Exact AUC (Mann–Whitney U) of an integer score column against a
    * 0/1 label — the ranking-quality number every filter-classifier
    * report leads with, computed EXACTLY (ties at half weight) rather
    * than by trapezoid-over-sampled-thresholds approximation.
    *
    * Shape: the corpus collapses to a value histogram (per distinct
    * score: n, positives, negatives); U then needs, per score, the
    * count of negatives strictly below it — a cumulative sum that must
    * be GLOBAL. Naively that is a single-reducer window over all
    * distinct scores, so the cumsum is staged two-level instead
    * (q47's offset-table device applied to values): scores fold into
    * `blockWidth`-wide blocks, the per-block negative totals get the
    * only unpartitioned window (the block table is bounded by
    * score-range / blockWidth — value-range-scale, never corpus-scale),
    * and the within-block running sum is a window PARTITIONED by block.
    * Doubling sidesteps halves: U2 = Σ_z pos(z)·(2·neg_below(z) +
    * neg_tied(z)) counts each tied pair once instead of half, and
    * auc_ppm = U2·1e6 div (2·n_pos·n_neg) (DECIMAL-widened — at 1e9
    * docs U2 nears 2^63, the product must not wrap). Accuracy rides
    * the same histogram: a row predicts positive iff z ≥ 0, so
    * n_correct = Σ_z [z ≥ 0 ? pos : neg] — no second corpus pass.
    *
    * Output: one row — (n_docs, n_pos, n_neg, n_correct, tie_pairs,
    * u2, auc_ppm, acc_ppm), all BIGINT; auc_ppm NULL on a
    * single-class corpus rather than a divide-by-zero. */
  def aucFromScores(scored: DataFrame, scoreCol: String = "z_e6",
      labelCol: String = "label",
      blockWidth: Long = 2000000L): DataFrame = {
    require(blockWidth > 0, "blockWidth must be positive")
    val h = scored
      .groupBy(col(scoreCol).as("z"))
      .agg(count(lit(1)).as("n"), sum(labelCol).as("pos"))
      .withColumn("neg", col("n") - col("pos"))
      // floor-div keeps negative scores in their own blocks
      .withColumn("blk",
        floor(col("z").cast("double") / lit(blockWidth.toDouble))
          .cast("long"))
    val blk = h.groupBy("blk").agg(sum("neg").as("__bn"))
    val wBlk = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkCum = blk
      .withColumn("cum_blk", coalesce(sum("__bn").over(wBlk), lit(0L)))
      .drop("__bn")
    val wIn = Window.partitionBy("blk").orderBy("z")
      .rowsBetween(Window.unboundedPreceding, -1)
    h.join(blkCum, "blk")
      .withColumn("cum_neg",
        col("cum_blk") + coalesce(sum("neg").over(wIn), lit(0L)))
      .agg(
        sum("n").as("n_docs"),
        sum("pos").as("n_pos"),
        sum("neg").as("n_neg"),
        sum(when(col("z") >= 0, col("pos")).otherwise(col("neg")))
          .as("n_correct"),
        sum(col("pos") * col("neg")).as("tie_pairs"),
        sum(col("pos") * (col("cum_neg") * 2 + col("neg"))).as("u2"))
      .withColumn("auc_ppm",
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000
                       div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)
                    AS BIGINT)
                END"""))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_docs"))
  }

  /** [[aucFromScores]] applied to [[qualityClassifier]]'s trained
    * scores — the one-row report card for the quality filter: does the
    * score actually rank reference-source docs above the rest (AUC),
    * and how often does the z ≥ 0 decision agree with the label
    * (accuracy)? */
  def classifierAuc(docs: DataFrame, targetSource: String,
      buckets: Int = 64, rounds: Int = 3, lr: Double = 0.5,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    aucFromScores(qualityClassifier(docs, targetSource, buckets, rounds,
      lr, stratum, idCol, textCol))

  /** PII scrubbing — the standard redaction pass a training corpus gets
    * before anything else reads it: emails, dotted-quad IPs and
    * NNN-NNN-NNNN phone numbers are replaced with sentinel tags, with
    * per-document match counts reported (the audit trail a compliance
    * review wants). Patterns are deliberately RE2-safe (character
    * classes, bounded repetition, `\b` — no lookaround), so the same
    * regex text runs identically on Spark's Java engine, RE2-based
    * engines (DuckDB, Go tooling) and GPU regex libraries; email is
    * redacted first so an address's host part can never be re-matched
    * as an IP fragment. Pure `regexp_count`/`regexp_replace` column
    * expressions: codegen'd, one scan, no shuffle — at 100 TB this is
    * scan-bound, exactly as cheap as a filter.
    *
    * Output: the input schema with `textCol` redacted in place plus
    * (n_emails, n_ips, n_phones) counted pre-redaction. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_ips", regexp_count(col(textCol), lit(Ipv4Re)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhoneRe)))
      .withColumn(textCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>"))

  /** Count-min-sketch audit of the vocabulary heavy hitters — the
    * mergeable scale path for "what are the most frequent tokens" (the
    * relationship [[vocabTopK]] ↔ this is the same as exact distinct ↔
    * HLL in q75): the sketch is `depth · width` counters TOTAL regardless
    * of corpus size, each occurrence increments `depth` cells, and the
    * cell table is an ordinary map-side-combined aggregate, so the
    * shuffle carries ≤ depth·width rows no matter how many tokens were
    * scanned. At 100 TB the exact per-token groupBy (whose shuffle is
    * the full vocabulary) is the side you drop; here it stays as the
    * audit twin that the sketch estimate is checked against row by row.
    *
    * Every hash is [[TextFunctions.hash60]] (md5-derived), so the WHOLE
    * sketch — cell values included — is engine-reproducible: the oracle
    * replays the exact counters, not a tolerance band. `ok` carries the
    * one unconditional count-min guarantee (the estimate never
    * underestimates); the spec pins the overestimate against the ε·N
    * bound. Output: (token, freq, est, ok) for the exact top `k`. */
  def countMinTopK(docs: DataFrame, k: Int, depth: Int = 4,
      width: Int = 256, textCol: String = "text"): DataFrame =
    cmsTopKWith(cmsPartials(docs, depth, width, textCol), docs, k, depth,
      width, textCol)

  /** Mergeable count-min partials — the sketch's `depth · width` cell
    * table (r, b, c), which is the WHOLE point of a count-min sketch
    * at 100 TB: cells are plain sums, so a landed corpus's cell table
    * persists once and every batch contributes its own; the union
    * folded by [[countMinTopKFromPartials]] is the exact sketch of
    * the combined corpus (q135's mergeability pattern applied to the
    * sketch family — the property its scaladoc has always claimed,
    * now oracle-proven by q136). */
  def cmsPartials(docs: DataFrame, depth: Int = 4, width: Int = 256,
      textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .select(explode(cmsCellsOf(col("token"), depth, width)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** [[countMinTopK]] with the sketch folded from ANY union of
    * [[cmsPartials]] outputs — bit-identical to the one-shot sketch
    * (cell counts are additive). The exact top-k audit twin still
    * reads `docs` (it is the oracle side, not the scale path). */
  def countMinTopKFromPartials(partials: DataFrame, docs: DataFrame,
      k: Int, depth: Int = 4, width: Int = 256,
      textCol: String = "text"): DataFrame =
    cmsTopKWith(partials.groupBy("r", "b").agg(sum(col("c")).as("c")),
      docs, k, depth, width, textCol)

  /** (row, bucket) cells of token t across the sketch rows —
    * md5-portable. */
  private def cmsCellsOf(t: Column, depth: Int, width: Int): Column =
    transform(sequence(lit(0), lit(depth - 1)),
      r => struct(r.cast("int").as("r"),
        pmod(TextFunctions.hash60(concat_ws(" ", r.cast("string"), t)),
          lit(width.toLong)).cast("int").as("b")))

  private def cmsTopKWith(cells: DataFrame, docs: DataFrame, k: Int,
      depth: Int, width: Int, textCol: String): DataFrame = {
    val tok = docs.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
    val top = tok.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(k)
    top
      .select(col("token"), col("freq"),
        explode(cmsCellsOf(col("token"), depth, width)).as("cell"))
      .select(col("token"), col("freq"),
        col("cell.r").as("r"), col("cell.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("token")
      .agg(first(col("freq")).as("freq"), min(col("c")).as("est"))
      .select(col("token"), col("freq"), col("est"),
        when(col("est") >= col("freq"), 1L).otherwise(0L).as("ok"))
  }

  /** Shared scored projection of the perplexity family — (idCol,
    * stratum, n_bigrams, sum_logp_e6, avg_logp), the [[bigramLogProb]]
    * chain joined back to its stratum. The chain (tokenize + LM join +
    * integer log sums) is the expensive part and EVERY consumer —
    * [[perplexityFlag]]'s sizes aggregate + rank pass,
    * [[perplexityFlagApprox]]'s sketch + verdict pass, and the q91
    * bound-verdict harness — derives two branches from it, so it is
    * persisted through [[graft.util.CacheRegistry]] (kind "ppl-scored",
    * keyed by the docs plan + column params): one evaluation per
    * corpus, shared across the exact form and its sketch twin rather
    * than relying on Spark exchange reuse to deduplicate the work.
    * Released by the standard releaseIf/releaseAll harness
    * contract. */
  def perplexityScored(docs: DataFrame, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = bigramLogProb(docs, idCol, textCol)
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(docs, "ppl-scored", stratum, idCol, textCol),
      docs.select(col(idCol), col(stratum)).join(scored, idCol))
  }

  /** LM-based quality filter — what CCNet/Gopher do with a real language
    * model, done with the corpus bigram model: score every document by
    * [[bigramLogProb]] (mean log conditional bigram probability; exact
    * integer micro-unit sums, one trailing IEEE division) and flag the
    * bottom `cutBp` basis points of each stratum as low-quality. The cut
    * is per-stratum integer rank selection (`rn·10⁴ ≤ n·cutBp`, doc-id
    * tiebreak) — no float percentile, so every engine flags the same
    * rows. The rank window hash-partitions by the stratum key: fine for
    * human-scale strata; at 100 TB under a handful of strata the cut
    * threshold comes from the mergeable sketch ([[approxDistributionStats]])
    * and the flag becomes a stateless comparison — keep this exact form
    * as that path's oracle, same pairing as [[distributionStats]].
    * Documents with fewer than two tokens have no bigrams and no score;
    * they are excluded (score-free rows can't rank). Output:
    * (id, stratum, n_bigrams, sum_logp_e6, flagged). */
  def perplexityFlag(docs: DataFrame, cutBp: Int = 1000,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(cutBp > 0 && cutBp < 10000, "cutBp in (0, 10000)")
    val w = Window.partitionBy(stratum).orderBy(col("avg_logp"), col(idCol))
    val joined = perplexityScored(docs, stratum, idCol, textCol)
    // stratum sizes as a tiny aggregate + broadcast join, NOT a second
    // unbounded `count().over(partitionBy(stratum))` window — the window
    // form re-traverses every stratum partition just to learn its size
    // null-safe stratum equality: a plain equi-join would drop
    // NULL-stratum docs the rank window kept (same fix as dsirSelect)
    val sizes = joined.groupBy(stratum).agg(count(lit(1)).as("cnt"))
      .withColumnRenamed(stratum, "__st")
    joined
      .withColumn("rn", row_number().over(w))
      .join(broadcast(sizes), col(stratum) <=> col("__st"))
      .select(col(idCol), col(stratum), col("n_bigrams"), col("sum_logp_e6"),
        when(col("rn") * lit(10000L) <= col("cnt") * lit(cutBp.toLong), 1L)
          .otherwise(0L).as("flagged"))
  }

  /** Sketch-threshold face of [[perplexityFlag]] — the 100 TB production
    * path the exact form's scaladoc names. The per-stratum cut value
    * comes from the mergeable percentile sketch
    * ([[approxDistributionStats]]: map-side-combined, no per-stratum
    * sort, no rank window funneling a whole stratum through one
    * reducer), and flagging is a stateless comparison against the
    * broadcast threshold — two narrow aggregates + one broadcast join,
    * immune to stratum skew. The trade: the threshold lands within rank
    * error ±n/accuracy of the exact boundary and ties at the threshold
    * flag wholesale, so boundary documents may differ from
    * [[perplexityFlag]]; q91 pins the agreement band as a contract row
    * (q74's le/lt bound-verdict device), CurationSpec pins per-doc
    * agreement away from the boundary. Schema identical to
    * [[perplexityFlag]]. */
  def perplexityFlagApprox(docs: DataFrame, cutBp: Int = 1000,
      accuracy: Int = 10000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(cutBp > 0 && cutBp < 10000, "cutBp in (0, 10000)")
    val joined = perplexityScored(docs, stratum, idCol, textCol)
    val thr = approxDistributionStats(
      joined.select(col(stratum), col("avg_logp").as("v")),
      stratum, "v", Seq(cutBp), accuracy)
      .select(col(stratum), col("value").as("__thr"))
    joined.join(broadcast(thr), stratum)
      .select(col(idCol), col(stratum), col("n_bigrams"), col("sum_logp_e6"),
        when(col("avg_logp") <= col("__thr"), 1L).otherwise(0L).as("flagged"))
  }

  /** The LANDED corpus's memoized bigram language model (kind
    * "ppl-landed-lm") — (g, n_ab, n_a), the [[bigramLogProb]] model
    * tables built from the landed slice only, reused batch over batch
    * by [[perplexityFlagIncrement]] and exposed for an index-build
    * phase. The model is a landed-side artifact: an incoming batch
    * must not move the LM it is scored by. */
  def landedBigramLm(landed: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "ppl-landed-lm", idCol, textCol), {
        val bigrams = landed.select(col(idCol),
          explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
        val cntAb = bigrams.groupBy("g").agg(count(lit(1)).as("n_ab"))
        val cntA = cntAb
          .groupBy(substring_index(col("g"), " ", 1).as("a"))
          .agg(sum(col("n_ab")).as("n_a"))
        cntAb.join(cntA, substring_index(col("g"), " ", 1) === col("a"))
          .select(col("g"), col("n_ab"), col("n_a"))
      })

  /** The LANDED per-stratum perplexity cut (kind "ppl-thresholds") —
    * one row per stratum holding the BOUNDARY landed document's exact
    * integer score ratio (th_sum_e6, th_nb): the last flagged doc of
    * [[perplexityFlag]]'s rank selection over the landed slice (rank
    * by avg_logp ascending, doc-id tiebreak; boundary = max flagged
    * rank). Stored as the integer pair, not the divided double, so
    * the batch comparison can cross-multiply exactly. A stratum too
    * small to flag anyone at `cutBp` yields no row. */
  def landedPplThresholds(landed: DataFrame, cutBp: Int = 1000,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "ppl-thresholds", cutBp, stratum,
        idCol, textCol), {
        val scored = perplexityScored(landed, stratum, idCol, textCol)
        val w = Window.partitionBy(stratum)
          .orderBy(col("avg_logp"), col(idCol))
        val sizes = scored.groupBy(stratum).agg(count(lit(1)).as("cnt"))
          .withColumnRenamed(stratum, "__st")
        scored.withColumn("rn", row_number().over(w))
          .join(broadcast(sizes), col(stratum) <=> col("__st"))
          .filter(col("rn") * lit(10000L) <= col("cnt") * lit(cutBp.toLong))
          .groupBy(stratum)
          .agg(max_by(struct(col("sum_logp_e6"), col("n_bigrams")),
            col("rn")).as("th"))
          .select(col(stratum), col("th.sum_logp_e6").as("th_sum_e6"),
            col("th.n_bigrams").as("th_nb"))
      })

  /** Incremental perplexity cut for append-only ingest — the LM-
    * quality cell of the incremental matrix: an incoming batch is
    * scored under the LANDED bigram LM ([[landedBigramLm]]) and
    * flagged against the LANDED per-stratum boundary
    * ([[landedPplThresholds]]), so verdicts are batch-order-
    * independent (the landed-codebook principle applied to the LM: a
    * batch must not move the model or the cut it is judged by).
    *
    * Scoring matches [[bigramLogProb]]'s integer device over the
    * bigrams the landed LM KNOWS: a batch bigram unseen in the landed
    * model contributes nothing (MLE assigns it zero mass — there is
    * no landed evidence to score it with), `n_bigrams` counts matched
    * bigrams only. The flag comparison is exact integer cross-
    * multiplication — avg_b ≤ θ ⟺ sum_b·th_nb ≤ th_sum·n_b (both
    * counts positive) — so no engine ever disagrees on a boundary.
    * Absence of evidence never rejects: a doc with zero matched
    * bigrams, or a stratum with no landed threshold, is not flagged.
    *
    * Scale: the per-batch cost is the batch's own bigram projection
    * g-keyed-joined against the memoized LM (q89's shape) + one
    * broadcast threshold join; landed data is never rescanned.
    * Output: (idCol, stratum, n_bigrams, sum_logp_e6, flagged), one
    * row per incoming doc. */
  def perplexityFlagIncrement(landed: DataFrame, incoming: DataFrame,
      cutBp: Int = 1000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lm = landedBigramLm(landed, idCol, textCol)
    val th = landedPplThresholds(landed, cutBp, stratum, idCol, textCol)
      .withColumnRenamed(stratum, "__st")
    val scored = incoming.select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
      .join(lm, "g")
      .withColumn("logp_e6",
        round(log(col("n_ab").cast("double") / col("n_a")) * 1e6, 0)
          .cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("logp_e6").as("sum_logp_e6"))
    incoming.select(col(idCol), col(stratum))
      .join(scored, Seq(idCol), "left")
      .join(broadcast(th), col(stratum) <=> col("__st"), "left")
      .select(col(idCol), col(stratum),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_logp_e6"), lit(0L)).as("sum_logp_e6"),
        when(col("th_sum_e6").isNotNull && col("sum_logp_e6").isNotNull &&
          col("sum_logp_e6") * col("th_nb") <=
            col("th_sum_e6") * col("n_bigrams"), 1L)
          .otherwise(0L).as("flagged"))
  }

  /** Mixture-rebalancing report — the "data mixing" decision a training
    * run makes before sampling: given the natural per-stratum token mass
    * and a uniform target mixture at the corpus's own token budget,
    * report each stratum's natural share, its target token allocation,
    * and the sampling weight (×1e6) that realizes it — weight > 1e6
    * means the stratum is upsampled (epochs > 1), < 1e6 downsampled.
    * The weight column is what [[stratifiedSample]]/[[temperatureSample]]
    * consume as their per-stratum rate. All arithmetic is integer
    * micro-unit division (`div`) with the ×1e6 products widened to
    * DECIMAL(38,0) first — a BIGINT product would silently wrap past
    * ~9.2e12 tokens per stratum, well inside the 100 TB regime this
    * report targets — so the report is bit-identical on any engine
    * (the oracle widens to HUGEINT, same truncating division on
    * positive values). One scan + one tiny aggregate + a one-row totals
    * broadcast; nothing here grows with corpus size except the scan.
    * Output: (stratum, n_docs, n_tokens, natural_share_e6,
    * target_tokens, weight_e6) — weight_e6 is BIGINT, which bounds a
    * stratum's upsampling factor at ~9.2e12×; a stratum tiny enough to
    * exceed that is a data bug, not a mixture. */
  def mixtureWeights(docs: DataFrame, stratum: String = "source",
      textCol: String = "text"): DataFrame =
    mixtureFromPartials(mixturePartials(docs, stratum, textCol), stratum)

  /** Per-stratum partial aggregate of the mixture report — (stratum,
    * n_docs, n_tokens). The partials are MERGEABLE (plain sums), which
    * is the whole incremental story: a landed corpus's partials are a
    * few rows persisted once; each new batch contributes its own few
    * rows; [[mixtureFromPartials]] over their union is the exact
    * full-corpus report without ever rescanning landed data. This is
    * the same exact-path mergeability the sketch family (q74/q75/q87)
    * has by construction, made explicit for an exact report. */
  def mixturePartials(docs: DataFrame, stratum: String = "source",
      textCol: String = "text"): DataFrame =
    docs.groupBy(stratum)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col(textCol))).cast("long")).as("n_tokens"))

  /** Fold any union of [[mixturePartials]] outputs into the mixture
    * report. Arithmetic identical to the one-shot path — see
    * [[mixtureWeights]] for the DECIMAL(38,0) widening rationale. */
  def mixtureFromPartials(partials: DataFrame,
      stratum: String = "source"): DataFrame = {
    val per = partials.groupBy(stratum)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_strata"))
    per.crossJoin(broadcast(tot))
      .select(col(stratum), col("n_docs"), col("n_tokens"),
        expr("CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div total_tokens")
          .as("natural_share_e6"),
        expr("total_tokens div n_strata").as("target_tokens"),
        expr("CAST(total_tokens div n_strata AS DECIMAL(38,0)) * 1000000" +
          " div n_tokens").as("weight_e6"))
  }

  /** Self-contained distributed heavy hitters — the token-frequency scale
    * path that needs NO vocabulary-wide groupBy at any stage (the gap
    * [[countMinTopK]] left open: its sketch is mergeable, but its
    * candidate set still came from the exact top-k it is meant to
    * replace).
    *
    * Shape: one Misra–Gries summary of `capacity` counters per
    * partition (`mapPartitions`, O(capacity) memory, decrement-all on
    * overflow), then an exact recount restricted to the union of the
    * partition summaries. The candidate union is provably sufficient:
    * if a token's global count f exceeds N/capacity while its local
    * count is ≤ nᵖ/capacity in every partition p, summing gives
    * f ≤ Σ nᵖ/capacity = N/capacity — contradiction; so some partition
    * had local count > nᵖ/capacity, and Misra–Gries guarantees such an
    * item survives in that partition's summary (each decrement-all
    * event destroys `capacity` occurrence credits, and a partition has
    * only nᵖ credits to destroy). The recount then filters to
    * `freq · capacity > N` EXACTLY, which makes the final answer a pure
    * function of the data — the partition-dependent candidate set only
    * ever adds rows the filter removes — so it is DuckDB-replayable
    * even though the intermediate summaries are not.
    *
    * Scale: the only vocabulary-sized object anywhere is each
    * partition's local hash map, capped at `capacity` entries; the
    * candidate shuffle carries ≤ capacity × partitions tokens, the
    * recount aggregates only candidate rows (broadcast semi join gates
    * the scan), and the total N rides out of the candidate pass itself
    * (one extra row per partition) as a one-row broadcast — the whole
    * operator tokenizes the corpus exactly TWICE (candidates+total,
    * recount), the minimum a candidate/verify split admits. Compare q44's
    * exact top-k, whose groupBy shuffles the full vocabulary — on web
    * text that is corpus-scale — and which this operator demotes to
    * audit twin.
    *
    * Output: (token, freq, n_total) for the ≤ k most frequent tokens
    * with freq · capacity > n_total, ordered (freq desc, token). */
  def heavyHittersMG(docs: DataFrame, k: Int, capacity: Int = 64,
      textCol: String = "text"): DataFrame = {
    require(capacity > 0 && k > 0, "k and capacity must be positive")
    val ss = docs.sparkSession
    import ss.implicits._
    val tok = docs.select(
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    // ONE pass emits both outputs (review finding: a separate
    // tok.count() scan re-tokenized the corpus a third time): candidate
    // rows (token, 0) from each partition's MG summary, plus one
    // (null, n-partition-tokens) row — the exact total folds out of the
    // same iterator that feeds the counters. The summary is tiny
    // (≤ capacity × partitions + partitions rows), pinned eagerly so
    // the candidate and total branches don't re-run the scan.
    val summary = tok.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { t =>
        n += 1
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < capacity => counters.update(t, 1L)
          case None =>
            // decrement-all: kills one credit of `capacity` distinct
            // tokens at once; keys reaching zero drop out
            val dead = counters.iterator.collect {
              case (key, 1L) => key
            }.toArray
            counters.mapValuesInPlace((_, c) => c - 1)
            dead.foreach(counters.remove)
        }
      }
      counters.keysIterator.map(t => (t, 0L)) ++
        Iterator.single((null: String, n))
    }.toDF("token", "n").localCheckpoint(true)
    val candidates = summary.filter(col("token").isNotNull)
      .select("token").distinct()
    val total = summary.agg(sum(col("n")).as("n_total"))
    tok.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * lit(capacity.toLong) > col("n_total"))
      .orderBy(desc("freq"), asc("token"))
      .limit(k)
  }

  /** Gopher-style composite quality gate: every document gets a reason
    * BITMASK of failed heuristics and a keep verdict (reasons == 0) —
    * the auditable form a production filter needs (how many docs each
    * rule kills, which rules co-fire, what a threshold change would do)
    * rather than a bare boolean.
    *
    * Rules (bit set = failed):
    *   1 — too short: n_tokens < 30;
    *   2 — mean word length outside [3.8, 5.0] (gibberish / code);
    *   4 — stopword ratio < 5% (non-prose);
    *   8 — unique-token fraction < 0.4 (repetitive boilerplate).
    *
    * Every comparison is integer cross-multiplication (`n_chars·10 <
    * n_tokens·38` instead of `n_chars/n_tokens < 3.8`) — no float
    * division anywhere, so the verdict is bit-identical on any engine
    * and immune to rounding-at-the-threshold flips. Pure codegen
    * column expressions over one scan, no shuffle: at 100 TB this
    * gate costs exactly what reading the corpus costs.
    *
    * Output: (idCol, n_tokens, reasons, keep). */
  def qualityGate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val nTok = size(tk).cast("long")
    val nChr = TextFunctions.nonSpaceChars(col(textCol)).cast("long")
    val nStop = TextFunctions.tokensIn(col(textCol),
      TextFunctions.EnStopwords).cast("long")
    val nUniq = size(array_distinct(tk)).cast("long")
    val reasons =
      when(nTok < 30, 1L).otherwise(0L) +
      when(nChr * 10 < nTok * 38 || nChr * 10 > nTok * 50, 2L).otherwise(0L) +
      when(nStop * 20 < nTok, 4L).otherwise(0L) +
      when(nUniq * 5 < nTok * 2, 8L).otherwise(0L)
    docs.select(col(idCol), nTok.as("n_tokens"), reasons.as("reasons"),
      when(reasons === 0, 1L).otherwise(0L).as("keep"))
  }

  /** Per-source curation funnel — the "data card" a corpus release
    * publishes: every document attributed to the FIRST pipeline stage
    * that rejects it, in the order a real curation pipeline applies
    * evidence (cheapest-and-highest-precision first): byte-identical
    * exact dedup > n-gram near-dup > embedding semantic dup (the
    * [[graft.dedup.Dedup.unifiedDedupVerdicts]] lattice) > Gopher-style
    * quality gate ([[qualityGate]]) > bottom-decile LM perplexity cut
    * ([[perplexityFlag]]). One row per (source, stage) with document
    * and token counts — all exact integers, so the card is
    * engine-reproducible.
    *
    * Composes three independently-oracled operators by doc id: each
    * reads its own memoized family tables (shingle/band/cluster caches,
    * the scored-ppl projection), so in an indexed session the marginal
    * cost is three id-keyed joins plus one (source, stage) hash
    * aggregate — nothing here re-touches text. Documents too short to
    * score under the bigram LM (< 2 tokens) carry flagged = 0 via the
    * left join, mirroring the oracle. The verdict join is total even
    * under PARTIAL embedding coverage: [[graft.dedup.Dedup
    * .unifiedDedupVerdicts]] left-joins its semantic stage (a doc
    * without an embedding row passes that stage), so 'every document
    * attributed' holds unconditionally (ADVICE-r14 fix). */
  def curationFunnel(docs: DataFrame, embeddings: DataFrame,
      cutBp: Int = 1000, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val v = graft.dedup.Dedup.unifiedDedupVerdicts(docs, embeddings)
    val g = qualityGate(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("reasons"))
    val p = perplexityFlag(docs, cutBp, "source", idCol, textCol)
      .select(col(idCol), col("flagged"))
    docs.select(col(idCol), col("source"))
      .join(v, idCol).join(g, idCol)
      .join(p, Seq(idCol), "left")
      .withColumn("stage",
        when(col("verdict") =!= "keep", col("verdict"))
          .when(col("reasons") =!= 0, lit("quality_fail"))
          .when(coalesce(col("flagged"), lit(0L)) === 1, lit("ppl_cut"))
          .otherwise(lit("keep")))
      .groupBy("source", "stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
  }

  /** Pairwise AGREEMENT matrix between the three quality-filter
    * policies — [[dedupMethodAgreement]]'s audit applied to the
    * curation side of the funnel: heuristic gate ([[qualityGate]],
    * reasons ≠ 0), perplexity cut ([[perplexityFlag]], bottom decile
    * under the corpus bigram LM), and the trained classifier
    * ([[qualityClassifier]], predicted = 0 i.e. z < 0). High overlap
    * between a cheap and an expensive filter means the cheap one runs
    * first and shrinks the expensive one's input; low overlap means
    * each contributes evidence the others miss — the same stage-
    * ordering dial, read before anyone composes q132's funnel order.
    * Flags are RAW per-method verdicts (no funnel precedence); a doc
    * the ppl scorer never scored (< 1 bigram) is never ppl-flagged,
    * matching the funnel's own totality rule.
    *
    * Scale: the three flag pipelines are the SAME passes the funnel
    * family pays (features memoized under "qc-features", scores under
    * "ppl-scored"), folded by id-keyed joins to ONE row of six sums;
    * the 3-row matrix is a driver-side `stack` of that row. Output:
    * (m1, m2, n1, n2, n_both, jaccard_ppm), jaccard_ppm NULL when both
    * counts are zero. */
  def filterMethodAgreement(docs: DataFrame, targetSource: String = "src0",
      cutBp: Int = 1000, stratum: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val g = qualityGate(docs, idCol, textCol)
      .select(col(idCol),
        when(col("reasons") =!= 0, 1L).otherwise(0L).as("fg"))
    val p = perplexityFlag(docs, cutBp, stratum, idCol, textCol)
      .select(col(idCol), col("flagged").as("fp0"))
    val c = qualityClassifier(docs, targetSource, stratum = stratum,
        idCol = idCol, textCol = textCol)
      .select(col(idCol),
        when(col("predicted") === 0, 1L).otherwise(0L).as("fc"))
    docs.select(col(idCol))
      .join(g, idCol).join(p, Seq(idCol), "left").join(c, idCol)
      .select(col("fg"), coalesce(col("fp0"), lit(0L)).as("fp"), col("fc"))
      .agg(sum("fg").as("ng"), sum("fp").as("np"), sum("fc").as("nc"),
        sum(col("fg") * col("fp")).as("bgp"),
        sum(col("fg") * col("fc")).as("bgc"),
        sum(col("fp") * col("fc")).as("bpc"))
      .selectExpr("""stack(3,
          'gate', 'ppl',        ng, np, bgp,
          'gate', 'classifier', ng, nc, bgc,
          'ppl',  'classifier', np, nc, bpc)
        AS (m1, m2, n1, n2, n_both)""")
      .withColumn("jaccard_ppm",
        expr("""CASE WHEN n1 + n2 - n_both > 0 THEN
                  n_both * 1000000 div (n1 + n2 - n_both) END"""))
  }

  /** Per-source unigram KL divergence against the corpus distribution,
    * restricted to the `headV` most frequent corpus tokens — the
    * mixture diagnostic that says WHICH sources are distributionally
    * far from the blend (a source whose head-token profile diverges is
    * over/under-represented or off-domain; the mixture weights q90
    * assigns by volume say nothing about content).
    *
    * KL(source ‖ corpus) over head token t is
    * Σ (c_st/n_s)·(ln(c_st/n_s) − ln(c_t/N)); this computes the
    * numerator Σ c_st·(lnq c_st − lnq n_s − lnq c_t + lnq N) with
    * lnq(x) = round(ln(x)·1e6) as BIGINT — the [[tfidfTopTerms]]
    * micro-unit-ln device — and returns it UNdivided next to n_s.
    * Integer sums are order-independent (exact under any partitioning)
    * and the division is left to the consumer because Spark's `div`
    * truncates toward zero while DuckDB's `//` floors: on a negative
    * head-restricted sum the two would legally disagree by one.
    *
    * Scale: tokens semi-join the broadcast head BEFORE the per-source
    * aggregate, so the (source, token) shuffle is ≤ sources × headV
    * rows — never vocabulary-sized; per-source totals are a tiny
    * map-side-combined aggregate; corpus totals a one-row broadcast.
    * The head selection itself is the q44 top-k shape
    * (TakeOrderedAndProject over the token aggregate), the one
    * vocabulary-wide stage, shared and unavoidable in any frequency
    * ranking.
    *
    * Output: (stratum, n_tokens, head_tokens, kl_num_e6), ordered by
    * stratum. */
  def sourceUnigramKL(docs: DataFrame, headV: Int = 200,
      stratum: String = "source", textCol: String = "text"): DataFrame = {
    require(headV > 0, "headV must be positive")
    def lnq(c: Column): Column =
      round(log(c.cast("double")) * lit(1000000.0), 0).cast("long")
    val tok = docs.select(col(stratum),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val head = tok.groupBy("token").agg(count(lit(1)).as("c_t"))
      .orderBy(desc("c_t"), asc("token")).limit(headV)
    val perSource = tok.groupBy(stratum).agg(count(lit(1)).as("n_s"))
    val corpusN = tok.agg(count(lit(1)).as("n_c"))
    tok.join(broadcast(head), Seq("token"))
      .groupBy(col(stratum), col("token"))
      .agg(count(lit(1)).as("c_st"), max(col("c_t")).as("c_t"))
      .join(broadcast(perSource), stratum)
      .crossJoin(broadcast(corpusN))
      .withColumn("contrib", col("c_st") *
        (lnq(col("c_st")) - lnq(col("n_s")) - lnq(col("c_t")) + lnq(col("n_c"))))
      .groupBy(stratum)
      .agg(max(col("n_s")).as("n_tokens"),
        sum(col("c_st")).as("head_tokens"),
        sum(col("contrib")).as("kl_num_e6"))
  }

  /** Quality-aware near-dup cluster representatives — the retention
    * policy COMPOSED: where q148 keeps the LARGEST copy per n-gram
    * cluster, this keeps the copy the trained quality classifier
    * scores highest (ties to the lowest id) — the policy an actual
    * training-set build wants, since near-dup copies differ in
    * boilerplate/truncation and the kept one is the only one the model
    * ever sees. One id-keyed join between the memoized cluster table
    * (kind "dedup-clusters") and the classifier's scored output (kind
    * "qc-features" underneath), folded per cluster with a single
    * max_by — no window over the corpus. rep_z_e6 is exactly the
    * representative's margin (argmax ties break low-id, and the max z
    * IS the argmax's z). Output: (cluster_id, n_docs, rep_id,
    * rep_z_e6). */
  def qualityRepresentatives(docs: DataFrame, targetSource: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cl = graft.dedup.Dedup.dedupClusters(docs, textCol = textCol,
        idCol = idCol)
      .select(col(idCol), col("cluster_id"))
    val sc = qualityClassifier(docs, targetSource, idCol = idCol,
        textCol = textCol)
      .select(col(idCol), col("z_e6"))
    cl.join(sc, idCol)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        max_by(col(idCol), struct(col("z_e6"), -col(idCol))).as("rep_id"),
        max("z_e6").as("rep_z_e6"))
  }

  /** The landed corpus's drift-monitor artifact (memoized kind
    * "drift-head"): the `headV` most frequent landed tokens with their
    * landed counts (desc count, asc token — q44's reproducible cut),
    * plus ONE sentinel row (token NULL, c_lt = total landed tokens).
    * headV+1 rows — the whole reference distribution a batch is judged
    * against, broadcast-sized by construction. */
  def landedDriftHead(landed: DataFrame, headV: Int = 200,
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "drift-head", headV, textCol), {
        val tok = landed.select(
          explode(TextFunctions.tokens(col(textCol))).as("token"))
        tok.groupBy("token").agg(count(lit(1)).as("c_lt"))
          .orderBy(desc("c_lt"), asc("token")).limit(headV)
          .unionByName(tok.agg(count(lit(1)).as("c_lt"))
            .select(lit(null).cast("string").as("token"), col("c_lt")))
      })

  /** Ingest distribution-drift report — the ALARM a crawl batch trips
    * before it lands (the monitor the q129/q132 gates assume someone
    * is watching): is the batch's token distribution still the one the
    * landed corpus was curated under? Two dials, both against the
    * memoized landed head ([[landedDriftHead]]): head COVERAGE (share
    * of batch tokens falling in the landed head vs the landed corpus's
    * own share — a drop means new vocabulary is flooding in) and the
    * head-restricted KL numerator Σ c_bt·(lnq c_bt − lnq n_b −
    * lnq c_lt + lnq n_l) (the q95 micro-ln device; ships undivided per
    * q95's truncation-parity rationale). `cover_alarm` fires on a
    * > 10% relative coverage drop — the one thresholded flag, computed
    * on the already-divided ppm values so both engines compare
    * identical integers. A batch replaying the landed distribution
    * reads kl_num_e6 = 0 EXACTLY (the lnq terms cancel term-wise) and
    * equal covers.
    *
    * Scale: per batch = one batch tokenization + a token-keyed join
    * against the broadcast headV-row artifact; the landed corpus is
    * never re-read (the artifact persists across batches/sessions via
    * the registry). Cover ratios DECIMAL(38,0)-widened — 100 TB token
    * totals × 1e6 would wrap BIGINT. Output: one row (n_landed_tokens,
    * n_batch_tokens, head_cover_landed_ppm, head_cover_batch_ppm,
    * kl_num_e6, cover_alarm). */
  def ingestDriftReport(landed: DataFrame, batch: DataFrame,
      headV: Int = 200, textCol: String = "text"): DataFrame = {
    val art = landedDriftHead(landed, headV, textCol)
    val head = art.filter(col("token").isNotNull)
    val nl = art.filter(col("token").isNull).select(col("c_lt").as("n_l"))
    val btok = batch.select(
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val nb = btok.agg(count(lit(1)).as("n_b"))
    def lnq(c: Column): Column =
      round(log(c.cast("double")) * lit(1000000.0), 0).cast("long")
    val j = btok.groupBy("token").agg(count(lit(1)).as("c_bt"))
      .join(broadcast(head), "token")
      .crossJoin(broadcast(nl)).crossJoin(broadcast(nb))
      .agg(sum("c_bt").as("head_b"),
        sum(col("c_bt") * (lnq(col("c_bt")) - lnq(col("n_b")) -
          lnq(col("c_lt")) + lnq(col("n_l")))).as("kl"))
    val hl = head.agg(sum("c_lt").as("head_l"))
    j.crossJoin(broadcast(hl)).crossJoin(broadcast(nl))
      .crossJoin(broadcast(nb))
      .select(col("n_l").as("n_landed_tokens"),
        col("n_b").as("n_batch_tokens"),
        expr("""CAST(CAST(head_l AS DECIMAL(38,0)) * 1000000 div n_l
                AS BIGINT)""").as("head_cover_landed_ppm"),
        expr("""CAST(CAST(coalesce(head_b, CAST(0 AS BIGINT))
                  AS DECIMAL(38,0)) * 1000000 div n_b
                AS BIGINT)""").as("head_cover_batch_ppm"),
        coalesce(col("kl"), lit(0L)).as("kl_num_e6"))
      .withColumn("cover_alarm",
        when(col("head_cover_batch_ppm") * 10 <
             col("head_cover_landed_ppm") * 9, 1L).otherwise(0L))
  }

  /** Deterministic three-way train/val/test assignment by hashed id —
    * the standard eval-split face next to [[stratifiedSample]] (rate
    * sampling), [[stratumSampleK]] (fixed-k draw) and
    * `leakageSafeSplit` (cluster-aware): split = the basis-point band
    * `hash60(id) mod 10000` falls in, so membership is a pure function
    * of the row's stable key — growing the corpus never reassigns an
    * existing doc, retries are idempotent, and any engine with md5
    * reproduces the split. Returns per-document assignments; callers
    * aggregate or join as needed. One scan, zero shuffle. */
  def threeWaySplit(docs: DataFrame, trainBp: Int = 8000, valBp: Int = 9000,
      idCol: String = "doc_id"): DataFrame = {
    require(trainBp > 0 && trainBp < valBp && valBp < 10000,
      "need 0 < trainBp < valBp < 10000")
    val h = pmod(TextFunctions.hash60(col(idCol).cast("string")), lit(10000L))
    docs.withColumn("split",
      when(h < trainBp, "train").when(h < valBp, "val").otherwise("test"))
  }

  /** Per-stratum log₂ token-length histogram — the length-distribution
    * report behind context-window budgeting and packing-efficiency
    * estimates. The bucket is `length(bin(n_tokens))` = ⌊log₂ n⌋ + 1
    * computed on the INTEGER's binary rendering, not on a float log —
    * `floor(ln(n)/ln 2)` flips at exact powers of two under 1-ulp libm
    * divergence, the integer form cannot. Zero-token docs land in
    * bucket 0. One scan + a (stratum, bucket) map-side-combined
    * aggregate. Output: (stratum, bucket, n_docs). */
  def tokenLengthHistogram(docs: DataFrame, stratum: String = "source",
      textCol: String = "text"): DataFrame = {
    val n = size(TextFunctions.tokens(col(textCol))).cast("long")
    docs
      .select(col(stratum),
        when(n <= 0, 0L).otherwise(length(bin(n)).cast("long")).as("bucket"))
      .groupBy(stratum, "bucket")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Top-k collocations by pointwise mutual information — the classic
    * "which word pairs travel together" corpus statistic (phrase
    * detection, tokenizer-merge candidates, collocation features).
    * PMI(x,y) = ln(p(xy)/(p(x)p(y))) with p(xy) = c_xy/M over bigram
    * occurrences and p(x) = c_x/N over unigram occurrences, computed as
    * the all-integer micro-unit chain lnq(c_xy) − lnq(M) − lnq(c_x) −
    * lnq(c_y) + 2·lnq(N) (lnq = round(ln·1e6), the [[tfidfTopTerms]]
    * device) — exact integer sums and ranks, engine-reproducible.
    * `minCount` is the standard PMI noise floor: a pair seen once is
    * "perfectly associated" by raw PMI, so rare pairs are cut BEFORE
    * ranking (and before the unigram joins, which shrinks the join
    * input to the surviving pairs).
    *
    * Scale: bigram and unigram counts are one hash-shuffle each (the
    * q55 bigram-LM shape — vocabulary-keyed, map-side combined); the
    * two unigram joins key on the filtered pair table; totals are
    * one-row broadcasts; the final rank is TakeOrderedAndProject over
    * the ≥ minCount survivors. Output: (bigram, c_xy, c_x, c_y,
    * pmi_e6) for the top `k` by (pmi desc, bigram asc). */
  def pmiTopK(docs: DataFrame, k: Int = 25, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(k > 0 && minCount >= 1, "k >= 1 and minCount >= 1")
    def lnq(c: Column): Column =
      round(log(c.cast("double")) * lit(1000000.0), 0).cast("long")
    val tok = docs.select(explode(TextFunctions.tokens(col(textCol))).as("t"))
    val uni = tok.groupBy("t").agg(count(lit(1)).as("c_t"))
    val nUni = tok.agg(count(lit(1)).as("n_uni"))
    val bi = docs.select(
      explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
    val cntBi = bi.groupBy("g").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val nBi = bi.agg(count(lit(1)).as("n_bi"))
    cntBi
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
      .join(uni.select(col("t").as("w1"), col("c_t").as("c_x")), "w1")
      .join(uni.select(col("t").as("w2"), col("c_t").as("c_y")), "w2")
      .crossJoin(broadcast(nBi))
      .crossJoin(broadcast(nUni))
      .select(col("g").as("bigram"), col("c_xy"), col("c_x"), col("c_y"),
        (lnq(col("c_xy")) - lnq(col("n_bi")) - lnq(col("c_x")) -
          lnq(col("c_y")) + lit(2L) * lnq(col("n_uni"))).as("pmi_e6"))
      .orderBy(desc("pmi_e6"), asc("bigram"))
      .limit(k)
  }

  /** Deterministic seeded epoch shuffle + contiguous shard assignment —
    * the reproducibility contract of a training run: the global sample
    * order for epoch `seed` is a pure function of (seed, id), never of
    * partitioning, cluster size, or read order, so a re-run (or a
    * resumed run on different hardware) feeds the model the identical
    * sequence. Order key = hash60(seed ":" id) — a fresh independent
    * permutation per seed; position = the scale-safe two-level global
    * numbering ([[globalRowNumber]]: range-exchange on the uniform
    * 60-bit key + an O(partitions) offset broadcast — no single-reducer
    * window); shard = `(pos−1)·nShards div N` — contiguous runs of the
    * shuffled order, sizes within ±1, so each training worker streams
    * one dense range instead of striding the whole corpus. The one-row
    * total broadcast-crosses onto the numbered frame (tiny BNLJ,
    * allow-listed). Output: (id, shuf_key, pos 1-based, shard). */
  def epochShuffle(docs: DataFrame, seed: Long, nShards: Int,
      idCol: String = "doc_id", nPartitions: Int = 32): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    val keyed = docs.select(col(idCol),
      TextFunctions.hash60(
        concat_ws(":", lit(seed), col(idCol))).as("shuf_key"))
    val numbered = globalRowNumber(keyed, Seq("shuf_key", idCol),
      Seq(idCol, "shuf_key"), nPartitions, "pos")
    val total = numbered.agg(count(lit(1)).as("n_total"))
    numbered.crossJoin(broadcast(total))
      .select(col(idCol), col("shuf_key"), col("pos"),
        expr(s"(pos - 1) * $nShards div n_total").as("shard"))
  }

  /** Cross-source LM score matrix — the domain-similarity dial mixture
    * design runs on (data-selection practice: how well does source A's
    * bigram LM explain source B's text?): for every (eval, train)
    * source pair, the eval side's bigram-token coverage under the
    * train LM and the covered tokens' summed micro-ln log-prob. The
    * diagonal is the in-domain baseline (coverage 1e6 by
    * construction); a cross cell with near-diagonal numbers marks two
    * sources the mixture can treat as one pool, a cold cell marks a
    * domain the mix must sample explicitly.
    *
    * No smoothing: unseen eval bigrams are EXCLUDED from the score and
    * priced separately by `covered_ppm` (the q163 head-restriction
    * device — intersection scoring keeps every number an exact
    * integer; sums ship undivided per the q95 truncation-parity
    * rationale). lnq = the proven q55 micro-ln device.
    *
    * Scale: one tokenization pass → a (source, bigram)-keyed count
    * table; the LM join and the eval×LM join both key on the bigram
    * with per-key fan-out ≤ |sources|, so the matrix costs O(|bi| ·
    * sources) worst case, not corpus²; the |sources|² pair frame is a
    * broadcast cross of two strata-scale sides (the q151 shape).
    * Output: (e_src, t_src, n_eval, n_covered, covered_ppm,
    * sum_logp_e6) — one row per ordered source pair. */
  def crossSourceLmMatrix(docs: DataFrame, stratum: String = "source",
      textCol: String = "text"): DataFrame =
    // one scoring pipeline, shared with the mergeable face (the
    // q135/q104 delegation pattern): the one-shot table IS the
    // partials of the whole corpus folded once
    crossSourceLmMatrixFromPartials(
      sourceBigramPartials(docs, stratum, textCol))

  /** Mergeable per-source bigram partials — (src, g, cnt) rows, the
    * [[lmPartials]] device with the stratum attached: counts are PLAIN
    * SUMS, so a landed corpus's table persists once (memoized kind
    * "src-bigrams") and each new batch contributes only its own rows.
    * [[crossSourceLmMatrixFromPartials]] over any union replays the
    * one-shot matrix bit-for-bit (quantization happens after the
    * fold). */
  def sourceBigramPartials(docs: DataFrame, stratum: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(stratum).as("src"),
        explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
      .groupBy("src", "g").agg(count(lit(1)).as("cnt"))

  /** The memoized landed face of [[sourceBigramPartials]]. */
  def landedSourceBigrams(landed: DataFrame, stratum: String = "source",
      textCol: String = "text"): DataFrame =
    graft.util.CacheRegistry.cache(
      graft.util.CacheRegistry.key(landed, "src-bigrams", stratum, textCol),
      sourceBigramPartials(landed, stratum, textCol))

  /** [[crossSourceLmMatrix]] scoring under a bigram table folded from
    * ANY union of [[sourceBigramPartials]] outputs — the incremental
    * cell of the domain-similarity family: a nightly crawl batch
    * re-prices the whole (eval, train) matrix at the cost of ITS OWN
    * tokenization plus the model-scale fold; landed text is never
    * re-read. Exact: integer counts merge by sum BEFORE the micro-ln
    * quantization, so the merged path is bit-identical to the
    * one-shot matrix (the q104/q135 mergeability pattern — the oracle
    * IS the one-shot computation, and the hash match is the merge
    * proof). */
  def crossSourceLmMatrixFromPartials(partials: DataFrame): DataFrame = {
    val bi = partials.groupBy("src", "g").agg(sum(col("cnt")).as("cnt"))
    val ctx = bi.groupBy(col("src"),
        substring_index(col("g"), " ", 1).as("a"))
      .agg(sum(col("cnt")).as("n_a"))
    val lm = bi.select(col("src").as("t_src"), col("g"),
        col("cnt").as("n_ab"),
        substring_index(col("g"), " ", 1).as("a"))
      .join(ctx.select(col("src").as("t_src"), col("a"), col("n_a")),
        Seq("t_src", "a"))
      .withColumn("lp_e6",
        round(log(col("n_ab").cast("double") / col("n_a")) * 1e6, 0)
          .cast("long"))
      .select("t_src", "g", "lp_e6")
    val evalTot = bi.groupBy(col("src").as("e_src"))
      .agg(sum("cnt").as("n_eval"))
    val cells = bi.select(col("src").as("e_src"), col("g"), col("cnt"))
      .join(lm, "g")
      .groupBy("e_src", "t_src")
      .agg(sum(col("cnt")).as("n_covered"),
        sum(col("cnt") * col("lp_e6")).as("sum_logp_e6"))
    val srcs = bi.select(col("src")).distinct()
    srcs.select(col("src").as("e_src"))
      .crossJoin(broadcast(srcs.select(col("src").as("t_src"))))
      .join(cells, Seq("e_src", "t_src"), "left")
      .join(evalTot, "e_src")
      .select(col("e_src"), col("t_src"), col("n_eval"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("coalesce(n_covered, 0) * 1000000 div n_eval")
          .as("covered_ppm"),
        coalesce(col("sum_logp_e6"), lit(0L)).as("sum_logp_e6"))
  }

  /** The incremental entry point: landed partials memoized, the batch
    * tokenized fresh, matrix = the fold over their union. */
  def crossSourceLmIncrement(landed: DataFrame, incoming: DataFrame,
      stratum: String = "source", textCol: String = "text"): DataFrame =
    crossSourceLmMatrixFromPartials(
      landedSourceBigrams(landed, stratum, textCol).unionByName(
        sourceBigramPartials(incoming, stratum, textCol)))

  /** Embedding-coverage audit — the referential-integrity gate between
    * a text corpus and its embedding table (the two drift apart in
    * every real pipeline: failed embed jobs leave docs unembedded,
    * re-embeds and deletions strand orphan vectors). Per stratum:
    * docs, docs with a vector, docs missing one, coverage in ppm —
    * plus one sentinel row `(orphan vectors)` counting vectors whose
    * id matches NO document (n_missing carries the count; the other
    * columns are 0/NULL by construction).
    *
    * Scale: two narrow id projections, one id-keyed left join + a
    * model-sized groupBy, one anti-join for the orphan row — no
    * payloads or vectors ever shuffle. Run it BEFORE any pass that
    * assumes the join is total (DSIR, semantic dedup, ANN serving).
    * Output: (stratum, n_docs, n_embedded, n_missing, embedded_ppm). */
  def embeddingCoverage(docs: DataFrame, embeddings: DataFrame,
      stratum: String = "source", idCol: String = "doc_id",
      vecIdCol: String = "vec_id"): DataFrame = {
    val d = docs.select(col(idCol), col(stratum))
    val v = embeddings.select(col(vecIdCol).as(idCol)).distinct()
    val per = d.join(v.withColumn("__v", lit(1L)), Seq(idCol), "left")
      .groupBy(stratum)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_embedded"))
      .select(col(stratum), col("n_docs"), col("n_embedded"),
        (col("n_docs") - col("n_embedded")).as("n_missing"),
        expr("n_embedded * 1000000 div n_docs").as("embedded_ppm"))
    val orphans = v.join(d.select(col(idCol)), Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("(orphan vectors)").as(stratum),
        lit(0L).as("n_docs"), lit(0L).as("n_embedded"),
        col("n").as("n_missing"),
        lit(null).cast("long").as("embedded_ppm"))
    per.unionByName(orphans)
  }

  /** Length-curriculum ordering — the classic short-to-long training
    * schedule, made deterministic: every doc gets a fixed-width length
    * bucket (`(len−1)·nBuckets div maxTokens`, clamped to the top) and
    * the global order is (bucket asc, hash60(seed:id)) — easy buckets
    * first, a fresh seeded shuffle WITHIN each bucket, and the whole
    * permutation a pure function of (seed, id) exactly like
    * [[epochShuffle]] (same two-level numbering, no single-reducer
    * window; same reproducibility contract across cluster sizes).
    * Output: (idCol, len, bucket, shuf_key, pos 1-based); tokenless
    * docs are dropped (they occupy no training step). */
  def lengthCurriculum(docs: DataFrame, nBuckets: Int, seed: Long,
      maxTokens: Int = 2048, idCol: String = "doc_id",
      textCol: String = "text", nPartitions: Int = 32): DataFrame = {
    require(nBuckets >= 1 && maxTokens >= 1, "positive nBuckets/maxTokens")
    val keyed = docs.select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("len"))
      .filter(col("len") > 0)
      .withColumn("bucket", least(lit(nBuckets - 1L),
        expr(s"(len - 1) * $nBuckets div $maxTokens")))
      .withColumn("shuf_key", TextFunctions.hash60(
        concat_ws(":", lit(seed), col(idCol))))
    globalRowNumber(keyed, Seq("bucket", "shuf_key", idCol),
      Seq(idCol, "len", "bucket", "shuf_key"), nPartitions, "pos")
  }

  /** Corpus snapshot diff — the release audit between two versions of
    * a corpus: per (source, status) counts and token movement, status ∈
    * added (id only in new) / removed (id only in old) / changed (both,
    * raw-md5 content differs) / unchanged. Identity is the BYTE
    * fingerprint (md5 of the raw text), not the dedup family's
    * normalized one — a release diff reports what changed on disk, not
    * what changed semantically.
    *
    * Scale: each side folds to a narrow (id, source, fp, tokens)
    * projection — one id-keyed full-outer join, one model-sized
    * groupBy; payloads never ship past the projection. 100 TB vs
    * 100 TB diffs at the cost of two scans + one co-partitioned
    * shuffle. Output: (source, status, n_docs, tokens_old, tokens_new,
    * token_delta); `source` of an added/removed row comes from the
    * side that has it, and a changed doc counts BOTH sides' tokens. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      stratum: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // presence rides an explicit per-side marker, NOT fp nullability:
    // a doc present in both snapshots with a NULL text on one side is
    // "changed" (null-safe fp compare), never misread as added/removed
    def proj(df: DataFrame, side: String) =
      df.select(col(idCol), lit(true).as(side + "_in"),
        col(stratum).as(side + "_src"),
        md5(col(textCol)).as(side + "_fp"),
        size(TextFunctions.tokens(col(textCol))).cast("long")
          .as(side + "_tk"))
    proj(oldDocs, "o").join(proj(newDocs, "n"), Seq(idCol), "full_outer")
      .select(
        coalesce(col("n_src"), col("o_src")).as(stratum),
        when(col("o_in").isNull, lit("added"))
          .when(col("n_in").isNull, lit("removed"))
          .when(!(col("o_fp") <=> col("n_fp")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("o_tk"), lit(0L)).as("otk"),
        coalesce(col("n_tk"), lit(0L)).as("ntk"))
      .groupBy(stratum, "status")
      .agg(count(lit(1)).as("n_docs"),
        sum("otk").as("tokens_old"), sum("ntk").as("tokens_new"),
        (sum("ntk") - sum("otk")).as("token_delta"))
  }
}
