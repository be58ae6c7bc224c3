package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.KernelRun.{inRun, keptRows}

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality scoring, language identification, fingerprinting.
 * All hot-path functions are pure Column expressions (whole-stage codegen;
 * no UDFs) so they run at scan speed over 100 TB.
 */
object TextOps {

  /** #occurrences of `sub` in `c` via length arithmetic (codegen'd, and
    * expressible 1:1 in ANSI SQL for the oracle). */
  def countOccurrences(c: Column, sub: String): Column =
    (length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(sub), ""))) / sub.length

  /** Whitespace-token estimate: spaces + 1. Exact for single-spaced text. */
  def tokenCountEst(text: Column): Column =
    countOccurrences(text, " ").cast("long") + 1

  /** BPE-ish subword count: word chars / 4 + punctuation, a standard cheap
    * proxy for tokenizer counts (≈ chars/4 heuristic). */
  def tokenCountBpeIsh(text: Column): Column =
    ceil(length(regexp_replace(text, "\\s+", "")) / 4.0).cast("long")

  /** Punctuation ratio: [.,!?;:] chars over total length (unrounded). */
  def punctRatioRaw(text: Column): Column = {
    val puncts = Seq(".", ",", "!", "?", ";", ":")
    val cnt = puncts.map(p => countOccurrences(text, p)).reduce(_ + _)
    cnt / greatest(length(text), lit(1))
  }

  /** Punctuation ratio rounded for output. */
  def punctRatio(text: Column): Column = round(punctRatioRaw(text), 6)

  /** Mean word length over whitespace tokens. */
  def meanWordLen(text: Column): Column =
    round((length(text) - countOccurrences(text, " ")) / tokenCountEst(text), 6)

  /** Stopword-density per language: hit count of common function words. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " to "),
    "de" -> Seq(" der ", " und ", " die ", " das "),
    "fr" -> Seq(" le ", " et ", " les ", " des "),
    "es" -> Seq(" el ", " y ", " los ", " las "))

  def stopwordHits(text: Column, lang: String): Column =
    stopwords(lang).map(w => countOccurrences(text, w)).reduce(_ + _)

  /**
   * N-gram-heuristic language id: argmax of stopword hit counts over a
   * padded lowercase text, deterministic tie-break by language code
   * ("und" = undetermined when nothing hits).
   *
   * Expressed as array_max over (score, -langIndex, code) structs so each
   * score expression appears exactly ONCE in the generated code — the
   * earlier when/otherwise fold duplicated every score per comparison and
   * blew past the codegen method-size limit, knocking the whole projection
   * out of whole-stage codegen (lexicographic struct max picks the highest
   * score, ties going to the lowest language index = same semantics).
   */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val langs = stopwords.keys.toSeq.sorted
    val entries = langs.zipWithIndex.map { case (l, i) =>
      struct(stopwordHits(padded, l).as("s"), lit(-i).as("ni"), lit(l).as("code"))
    }
    val best = array_max(array(entries: _*))
    when(best.getField("s") > 0, best.getField("code")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: length band + punctuation sanity +
    * stopword density (the classic cheap pretraining-quality trio). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text) / lit(500.0), lit(1.0))
    val punct = punctRatioRaw(text)
    val punctScore = when(punct.between(0.005, 0.2), lit(1.0)).otherwise(lit(0.3))
    val padded = concat(lit(" "), lower(text), lit(" "))
    val stopScore = least(stopwordHits(padded, "en") / tokenCountEst(text) * 8.0, lit(1.0))
    round((lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3), 6)
  }

  /** 64-bit document fingerprint: polynomial rolling hash over the bytes,
    * seeded — stable across partitionings. Pure Scala (used inside typed
    * maps); for the Column path use xxhash64 (built-in, codegen'd). */
  def rollingFingerprint(text: String, seed: Long = 1315423911L): Long = {
    var h = seed
    var i = 0
    while (i < text.length) {
      h = h * 31L + text.charAt(i).toLong
      i += 1
    }
    h
  }

  /** Winnowing fingerprints: minimum rolling hash in each window of w
    * consecutive k-gram hashes (standard document-fingerprint scheme). */
  def winnow(text: String, k: Int = 8, w: Int = 16): Seq[Long] = {
    if (text.length < k) return Seq(rollingFingerprint(text))
    val grams = (0 to text.length - k).map(i => rollingFingerprint(text.substring(i, i + k)))
    if (grams.length <= w) Seq(grams.min)
    else grams.sliding(w).map(_.min).toSeq.distinct
  }

  /** Winnowing fingerprint selection as a pure Column expression (codegen'd,
    * scan-speed, and expressible 1:1 in ANSI SQL for the DuckDB oracle): the
    * distinct lexicographic-minimum k-gram of each window of w consecutive
    * k-grams — the standard winnowing position-selection scheme (Schleimer et
    * al., SIGMOD'03) with the gram itself as the orderable key. [[winnow]] is
    * the hashed (xxhash64-ready) Scala twin for typed pipelines. */
  def winnowGrams(text: Column, k: Int = 8, w: Int = 16): Column = {
    val grams = transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k)))
    val mins = transform(
      sequence(lit(1), greatest(size(grams) - (w - 1), lit(1))),
      j => array_min(slice(grams, j, lit(w))))
    array_distinct(mins)
  }

  /** DataFrame-level convenience: append the full text-analysis column set. */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("token_count", tokenCountEst(t))
      .withColumn("bpe_tokens", tokenCountBpeIsh(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("mean_word_len", meanWordLen(t))
      .withColumn("lang_id", langId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", xxhash64(t))
  }

  /** Corpus vocabulary: per-token occurrence counts over whitespace tokens —
    * the tokenizer-training / frequency-filter primitive. Pure built-ins
    * (split + explode + groupBy), so Catalyst's partial aggregation combines
    * counts map-side before the single shuffle — the classic wordcount-with-
    * combiner shape, which is exactly what survives at 100 TB (the shuffle
    * carries one row per distinct token per partition, not per occurrence).
    * `minCount` prunes the long tail AFTER aggregation (a frequency filter,
    * not a sampling shortcut). */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 minCount: Long = 1L): org.apache.spark.sql.DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Deterministic CONTENT-ADDRESSED stratified sampling: a row survives iff
    * (first 60 bits of md5(id) mod 10^6) < rate(stratum) * 10^6. No RNG
    * state, no partition dependence — the sample is a pure function of the
    * id, so it is identical across runs, engines and cluster sizes (the
    * property rebalancing pipelines need for reproducible data mixes, and
    * what makes the q52 DuckDB oracle possible; seeded `sample()` is
    * neither). Per-stratum rates (e.g. per language) with a default for
    * unlisted strata; pure Column expressions, codegen'd, no shuffle. */
  def stratifiedSample(docs: org.apache.spark.sql.DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0): org.apache.spark.sql.DataFrame = {
    val u = pmod(
      conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val rateExpr = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    // explicit ROUND before the long cast: a truncating cast would make the
    // threshold depend on whether rate*1e6 is exactly representable (0.3 ->
    // 299999.999... -> 299999 truncated vs 300000 rounded), silently breaking
    // the cross-engine reproducibility contract for any engine that rounds —
    // the q52 oracle rounds on the DuckDB side with the same expression
    docs.filter(u < round(rateExpr * 1000000.0, 0).cast("long"))
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    * fraction of characters inside the most frequent word {2,3}-gram, and
    * the duplicate-word fraction. Pure per-row higher-order-function
    * expressions — no shuffle, no UDF: at 100 TB this is a single
    * embarrassingly-parallel scan, the cheapest possible quality-filter
    * shape. Tie-break for "most frequent n-gram" is (count, gram)
    * struct-max — deterministic and engine-neutral (ASCII binary compare),
    * which the q59 oracle mirrors with ORDER BY cnt DESC, g DESC. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (top2, top3, dup) = repetitionCols(col(textCol))
    docs.select(col(idCol),
      top2.as("top2gram_char_frac"),
      top3.as("top3gram_char_frac"),
      dup.as("dup_word_frac"))
  }

  /** The three repetition signal columns `(top2gramCharFrac,
    * top3gramCharFrac, dupWordFrac)` as pure expressions over a text
    * column, so composed filters ([[qualityFilter]]) can inline them into
    * the SAME zero-shuffle scan instead of joining signal frames. */
  private[graft] def repetitionCols(text: Column): (Column, Column, Column) = {
    // `v` bound as a lambda variable, so the regex split and each gram array
    // run once per row: inside an interpreted lambda body an expression is
    // evaluated again at every use
    def let(v: Column)(body: Column => Column): Column = element_at(transform(array(v), body), 1)
    def ngrams(ws: Column, n: Int): Column =
      when(size(ws) >= n, transform(sequence(lit(1), size(ws) - (n - 1), lit(1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + lit(k))): _*)))
        .otherwise(array().cast("array<string>"))
    // one pass over the sorted grams: the (count, gram) struct-max over each
    // run's prefixes is the struct-max over the grams' full counts
    def topFrac(ws: Column, n: Int): Column = let(ngrams(ws, n)) { gs =>
      val best = aggregate(array_sort(gs),
        struct(lit(null).cast("string").as("prev"), lit(0).as("run"), struct(lit(0).as("cnt"), lit("").as("g")).as("best")),
        (acc, x) => {
          val run = when(acc.getField("prev") === x, acc.getField("run") + 1).otherwise(lit(1))
          struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), struct(run.as("cnt"), x.as("g"))).as("best"))
        },
        acc => acc.getField("best"))
      when(size(gs) >= 1,
        round(best.getField("cnt") * length(best.getField("g")) /
          length(text).cast("double"), 6)).otherwise(lit(0.0))
    }
    val signals = let(split(text, "\\s+")) { ws =>
      struct(topFrac(ws, 2).as("top2"), topFrac(ws, 3).as("top3"),
        round(lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws), 6).as("dup"))
    }
    (signals.getField("top2"), signals.getField("top3"), signals.getField("dup"))
  }

  /** Composed corpus keep/reject decision (the C4/Gopher filter shape) over
    * already-individually-oracled signals: whitespace token count (q20),
    * duplicate-word fraction and top-2-gram character fraction (q59). The
    * rule list is ORDERED and first-fail, so `reason` is deterministic.
    *
    * Everything is inlined into ONE per-row projection — token count and
    * both repetition signals are pure expressions — so the whole filter is
    * a single embarrassingly-parallel scan: no join, no shuffle, nothing
    * that changes shape at 100 TB. Thresholds are parameters; the defaults
    * are calibrated to the synthetic corpus (≈10% too_short, ≈20%
    * dup_words, ≈10% repetitive_2gram at sf0.01) so both branches of every
    * rule are exercised by the oracle face.
    */
  /** Default quality-filter thresholds, shared by the batch operator and
    * the streaming gate so default-argument callers of the two paths can
    * never classify the same document differently. */
  val DefaultMinTokens = 20L
  val DefaultMaxDupWordFrac = 0.65
  val DefaultMaxTop2gramCharFrac = 0.12

  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
                    minTokens: Long = DefaultMinTokens,
                    maxDupWordFrac: Double = DefaultMaxDupWordFrac,
                    maxTop2gramCharFrac: Double = DefaultMaxTop2gramCharFrac): DataFrame = {
    val (top2, _, dup) = repetitionCols(col(textCol))
    val tok = tokenCountEst(col(textCol))
    // signals are computed on the ROUNDED values the standalone queries
    // publish (round 6), so a threshold compare here can never disagree
    // with a compare done downstream on q59/q20 output
    val reason = when(tok < minTokens, "too_short")
      .when(dup > maxDupWordFrac, "dup_words")
      .when(top2 > maxTop2gramCharFrac, "repetitive_2gram")
      .otherwise("keep")
    docs.select(col(idCol), tok.as("token_count"), dup.as("dup_word_frac"),
      top2.as("top2gram_char_frac"), reason.as("reason"),
      (reason === "keep").as("keep"))
  }

  // --------------------------------------------------- BPE tokenizer training

  /** Distinct-word table with char-level symbol sequences: `(w, seq, n)`.
    * This is the ONLY corpus-scale pass of BPE training (the q51 wordcount-
    * with-combiner shape); every merge iteration afterwards runs over this
    * bounded table of DISTINCT words — at 100 TB the corpus shrinks to a
    * vocabulary of at most a few hundred million rows here, and the raw
    * text is never touched again. */
  def bpeWordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("w"),
        filter(split(col("w"), ""), x => x =!= "").as("seq"), col("n"))

  /** Frequency-weighted adjacent-symbol-pair counts over `(seq, n)` rows —
    * one BPE iteration's statistics. explode + groupBy keeps Catalyst's
    * map-side partial aggregation: the shuffle carries one row per distinct
    * (a, b) pair per partition, not per occurrence (symbol alphabets are
    * tiny, so the shuffle is near-constant regardless of corpus size). */
  def bpePairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("seq")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("seq")) - 1, lit(1)),
        i => struct(element_at(col("seq"), i).as("a"),
                    element_at(col("seq"), i + 1).as("b")))).as("p"), col("n"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("cnt"))

  /** Greedy left-to-right application of merge (a, b) -> ab to a symbol
    * sequence, as a pure higher-order-function fold (no UDF): standard BPE
    * semantics incl. overlaps ("aaa" under (a,a) -> ["aa","a"]), because a
    * freshly merged tail symbol is "ab", which no longer equals "a". */
  private def applyMerge(seqCol: Column, a: String, b: String): Column =
    aggregate(seqCol, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** BPE merge-rule training: `nMerges` iterations of most-frequent-
    * adjacent-pair counting over the distinct-word table, returning the
    * learned rules `(rank, left, right, score)` in merge order.
    *
    * 100 TB shape: the corpus is read ONCE (bpeWordTable); each iteration is
    * one combiner-shaped aggregation over the bounded word table plus a
    * LIMIT 1 argmax — exactly one row crosses to the driver per merge — and
    * a narrow per-row rewrite of the sequences. Ties break deterministically
    * (max count, then lexicographically smallest (left, right)), so the
    * learned rules are identical across runs and cluster sizes. The merges
    * run on [[graft.util.KernelRun.loop]]: each merge's word table supersedes the last
    * one, kept rows cut from the lineage and built by the convergence
    * test's count, so plan analysis cost stays flat over long rule lists
    * and a failed run frees the table it held. */
  def bpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
                minPairCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    inRun(spark, "bpe") { run =>
      val rules = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
      var exhausted = false
      def merge(words: DataFrame) = {
        val top = bpePairCounts(words)
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (top.isEmpty || top(0).getLong(2) < minPairCount) { exhausted = true; words }
        else {
          val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          rules += ((rules.size + 1, a, b, c))
          words.select(applyMerge(col("seq"), a, b).as("seq"), col("n"))
        }
      }
      val words = run.loop(nMerges, 1, 0L, 0,
        _ => bpeWordTable(docs, textCol).select(col("seq"), col("n")).localCheckpoint(false), merge,
        (_, words) => exhausted || { keptRows(words).get.count(); false }, chain = false).state
      run.own(words)
      rules.toSeq.toDF("rank", "left", "right", "score")
    }
  }

  // ------------------------------------------------------- sequence packing

  /** Concat-and-chunk sample packing (the pretraining batch layout):
    * documents are concatenated in `idCol` order WITHIN content-addressed
    * shards (`shard = id % shards`) and the stream cut into fixed windows
    * of `chunkTokens` tokens. Returns, per document, its shard, token
    * count, start offset in the shard's stream, and the first/last chunk
    * ids it lands in (a document crossing a boundary spans both).
    *
    * Scale: the running offset is a window sum partitioned BY SHARD — the
    * sort is per-shard, never global, so parallelism equals `shards` (set
    * it to the cluster width at 100 TB) and placement is fully
    * deterministic: content-addressed sharding + id order means the same
    * corpus packs identically on any cluster size or engine — the same
    * reproducible-data-mix property as [[stratifiedSample]]. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, shards: Int): DataFrame = {
    require(chunkTokens >= 1 && shards >= 1, "chunkTokens and shards must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
    docs.select(col(idCol), tokenCountEst(col(textCol)).as("token_count"),
        pmod(col(idCol), lit(shards)).as("shard"))
      .withColumn("end_off", sum(col("token_count")).over(w))
      .select(col(idCol), col("shard"), col("token_count"),
        (col("end_off") - col("token_count")).as("start_off"),
        floor((col("end_off") - col("token_count")) / chunkTokens).as("first_chunk"),
        floor((col("end_off") - 1) / chunkTokens).as("last_chunk"))
  }

  // ----------------------------------------------------------------- TF-IDF

  /** Per-(document, token) TF-IDF over whitespace tokens:
    * `tf · ln(N / df)` with `df` = #documents containing the token,
    * filtered to `df >= minDf`. Two map-side-combined aggregations (the
    * wordcount shape) plus one join keyed on the token — df rows are one
    * per DISTINCT token, so the join's build side is vocabulary-sized, not
    * corpus-sized. N comes from one count of the doc table. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String, minDf: Int = 1): DataFrame = {
    val n = docs.count()
    val words = docs.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    // docs may repeat a token: distinct per (doc, token) happens via the
    // groupBy, and df counts those rows (one per containing doc)
    val tf = words.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    tf.join(dfr, Seq("token"))
      .select(col(idCol), col("token"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("tf_idf"))
  }

  // --------------------------------------------- perplexity quality scoring

  /** CCNet-style perplexity filtering signal: per-document cross-entropy
    * (nats/token) under a unigram language model fit on the corpus itself,
    * `H(doc) = avg over tokens of −ln(cnt(w)/total)`. Low H ≈ stereotyped
    * boilerplate, high H ≈ noise — both tails get cut by a downstream
    * threshold, exactly how perplexity filters gate web corpora.
    *
    * Two passes, both wordcount-shaped: the model is one map-side-combined
    * aggregation (vocabulary-sized result), the scoring join keys on the
    * token with the model as the (vocabulary-sized) build side, then one
    * combinable avg per document. Self-trained ⇒ no OOV, no smoothing
    * branch; `model` can be swapped for a frozen table to score NEW data
    * against a reference corpus (the real CCNet setup). */
  def unigramLogLoss(docs: DataFrame, idCol: String, textCol: String,
                     model: Option[DataFrame] = None): DataFrame = {
    val words = docs.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val m = model.getOrElse(unigramModel(words))
    words.join(m, Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("p"))), 6).as("nats_per_token"))
  }

  /** Unigram MLE over a `(…, token)` frame: `(token, cnt, p)`. The total is
    * folded in-plan (one tiny agg cross-joined back), so the model builds
    * in a single job with no driver round-trip. */
  def unigramModel(words: DataFrame): DataFrame = {
    val cnt = words.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("total"))
    cnt.crossJoin(broadcast(total))
      .select(col("token"), col("cnt"), (col("cnt") / col("total")).as("p"))
  }

  // ------------------------------------------------------ corpus statistics

  /** One-row corpus summary (the data-card numbers): document count, total
    * whitespace tokens, mean/sample-stddev and exact interpolated
    * p50/p90/p99 of per-doc token counts. One pass: a single global
    * aggregation whose inputs are per-row expressions; the exact
    * percentiles are the only part that concentrates data (Spark's
    * `percentile` gathers a per-partition digest), which is fine for a
    * single-row report — switch to `approx_percentile` for always-on
    * telemetry at 100 TB. */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame = {
    val tok = tokenCountEst(col(textCol))
    docs.select(tok.as("t"), length(col(textCol)).cast("long").as("c"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("total_tokens"),
        sum(col("c")).as("total_chars"),
        round(avg(col("t")), 6).as("mean_tokens"),
        round(stddev_samp(col("t")), 6).as("stddev_tokens"),
        round(percentile(col("t"), lit(0.5)), 6).as("p50_tokens"),
        round(percentile(col("t"), lit(0.9)), 6).as("p90_tokens"),
        round(percentile(col("t"), lit(0.99)), 6).as("p99_tokens"))
  }

  // ---------------------------------------------------------- PII redaction

  /** Pattern-based PII redaction (the pre-training scrub pass): masks
    * email addresses, long digit runs (phone/account/SSN-shaped), and
    * IPv4 literals with fixed placeholder tokens, and reports per-doc
    * match counts so the pipeline can quarantine PII-dense documents
    * instead of silently laundering them. Pure codegen'd regexp
    * expressions — a zero-shuffle scan, the q63 shape.
    *
    * Patterns are deliberately conservative POSIX-class regexes (no
    * lookarounds) so any engine's regex dialect — including the oracle's —
    * matches them identically. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val digits = "[0-9][0-9 ()+.-]{6,}[0-9]"
    val c = col(textCol)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(c, email, "<EMAIL>"),
          ip, "<IP>"),
        digits, "<NUMBER>")
    docs.select(col(idCol),
      redacted.as("redacted"),
      size(split(c, email, -1)).cast("long").minus(1).as("n_emails"),
      size(split(c, ip, -1)).cast("long").minus(1).as("n_ips"))
  }

  // ------------------------------------------------------------ chunking

  /** Overlapping token-window chunking (the RAG/context-window splitter):
    * each document yields windows of `windowTokens` whitespace tokens
    * advancing by `strideTokens` (< window ⇒ overlap), with the final
    * partial window kept iff it starts before the text ends. One row per
    * chunk: `(id, chunk_idx, start_tok, n_tok, chunk_text)`.
    *
    * Pure per-row HOF expressions (sequence → transform → slice →
    * concat_ws): no shuffle, no UDF — chunking 100 TB is a scan, and the
    * explode multiplies rows only by the per-doc chunk count. */
  def chunkText(docs: DataFrame, idCol: String, textCol: String,
                windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens >= 1 && strideTokens >= 1,
      "windowTokens and strideTokens must be >= 1")
    val ws = split(col(textCol), "\\s+")
    val nChunks = when(size(ws) <= windowTokens, lit(1))
      .otherwise(ceil((size(ws) - lit(windowTokens)).cast("double") / strideTokens).cast("int") + 1)
    val chunks = transform(sequence(lit(0), nChunks - 1, lit(1)), i => {
      val start = i * strideTokens
      val len = least(lit(windowTokens), size(ws) - start)
      struct(i.as("chunk_idx"), start.as("start_tok"), len.as("n_tok"),
        concat_ws(" ", slice(ws, start + 1, len)).as("chunk_text"))
    })
    docs.select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.start_tok"),
        col("c.n_tok"), col("c.chunk_text"))
  }
}
