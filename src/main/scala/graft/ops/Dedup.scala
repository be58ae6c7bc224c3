package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.SyntheticRepoFiles.mix
import graft.util.{GroupCap, KernelRun}
import graft.util.KernelRun.{inRun, keptRows}

/**
 * Deduplication operators for training-data pipelines, each designed
 * shuffle-minimal for the 100 TB case:
 *
 *  - exact: one hash aggregation on the content (no pairwise work);
 *  - MinHash + LSH: per-doc signature in a single narrow pass, band buckets
 *    via explode + one shuffle, candidate pairs only within buckets;
 *  - SimHash: 64-bit signature, banded into 16-bit keys for candidate
 *    generation, Hamming-verified;
 *  - n-gram Jaccard: exact verification joined back on the LSH candidates
 *    (never all-pairs);
 *  - embedding cosine near-dup: random-hyperplane LSH buckets + exact cosine.
 *
 * Bucket cap: an LSH bucket self-join is quadratic in a bucket's size, and
 * a degenerate bucket (empty docs, license boilerplate, zero vectors) of k
 * members generates k²/2 candidate pairs in one task. Buckets over
 * `maxBucket` are DROPPED with a logged count ([[GroupCap]]): their members
 * are byte-near-identical en masse, which exact dedup (one hash agg)
 * handles at scan cost.
 *
 * Data ownership: each LSH path runs in a [[KernelRun]]. Its corpus-sized
 * banding or signature table is cached only until the
 * (candidate-proportional) pair set is built, and a failed run frees it
 * too. The candidate pairs are kept rows handed to the returned lazy frame,
 * which reads them: they never enter the session's cache, and the context
 * cleaner frees them once the frame is unreachable, as it does the results
 * of BFS and k-core.
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * The candidate pairs of the four banded LSH paths: `banded` (a doc's
   * `id` and `payload` columns per bucket `keys`) is cached for the
   * bucket-size pass and both join sides, buckets over `maxBucket` drop
   * (the bucket cap above), and two rows of a bucket pair as
   * `(id_a < id_b)` with `p_a` and `p_b` per payload column `p`. With `store` (an index's rows),
   * buckets are capped over store ∪ batch and each batch row pairs with
   * its bucket's other rows in either. The distinct pairs are kept rows
   * handed to the result; their count builds them, then `banded` is freed.
   */
  private def bandedPairs(run: KernelRun, op: String, banded: DataFrame, keys: Seq[String], maxBucket: Int,
                          payload: Seq[String] = Nil, store: Option[DataFrame] = None): DataFrame = {
    val batch = run.cache(banded)
    val capped = GroupCap(store.fold(batch)(_.unionByName(batch)), keys, maxBucket, op, "LSH buckets")
    val sameBucket = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val pairs = store match {
      case None =>
        capped.as("l").join(capped.as("r"), sameBucket && col("l.id") < col("r.id"))
          .select(Seq(col("l.id").as("id_a"), col("r.id").as("id_b")) ++
            payload.flatMap(p => Seq(col(s"l.$p").as(s"${p}_a"), col(s"r.$p").as(s"${p}_b"))): _*)
      case Some(_) =>
        batch.join(capped.select(keys.map(col): _*).distinct(), keys, "left_semi").as("l")
          .join(capped.as("r"), sameBucket && col("l.id") =!= col("r.id"))
          .select(least(col("l.id"), col("r.id")).as("id_a"), greatest(col("l.id"), col("r.id")).as("id_b"))
    }
    val cand = run.handOff(pairs.distinct().localCheckpoint(false))
    keptRows(cand).get.count()
    batch.unpersist(false)
    cand
  }

  /**
   * Exact Jaccard verification of candidate pairs `(id_a, id_b)` over the
   * `(id, text)` rows of `docs`, kept at `threshold` and up. Shingle sets
   * are computed for candidate docs ONLY: the docs are semi-joined against
   * the (tiny, post-LSH) candidate id set BEFORE the shingles, so the
   * verify stage's shuffle is proportional to the candidate count, never
   * the corpus — at 100 TB shingle sets are ~corpus-sized derived data and
   * must not be computed for all docs.
   */
  private def verifiedJaccard(spark: SparkSession, cand: DataFrame, docs: DataFrame,
                              sh: String => Set[Long], threshold: Double): DataFrame = {
    import spark.implicits._
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val shingleDs = docs
      .join(candIds, Seq("id"), "left_semi")
      .as[(Long, String)]
      .map { case (id, text) => (id, sh(text).toSeq) }
      .toDF("id", "sh")
    cand
      .join(shingleDs.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(shingleDs.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (b, a, sa, sb) => (a, b, jaccard(sa.toSet, sb.toSet)) }
      .toDF("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(least($"id_a", $"id_b").as("id_a"), greatest($"id_a", $"id_b").as("id_b"), round($"jaccard", 6).as("jaccard"))
  }

  // ------------------------------------------------------------------ exact

  /** Exact dedup: keep the smallest id per identical content. Groups by
    * sha2(content) rather than the raw text so the shuffle carries a
    * constant-width 64-char digest key per row instead of every document's
    * full bytes (~corpus-sized shuffle at 100 TB). Two different documents
    * colliding under SHA-256 (2^-128) would merge groups; at that odds the
    * hash IS the identity, same as any content-addressed store. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))

  // -------------------------------------------------------------- shingling

  /** FNV-1a 64-bit over a char range — a REAL 64-bit string hash (unlike
    * String.hashCode's 32 bits, whose ~m²/2^33 gram-pair collision odds would
    * be a non-negligible tail risk on large corpora). Offset-based so the
    * k-gram hot loop allocates no substrings. */
  def hash64(s: String, from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      h ^= (c & 0xFF); h *= 0x100000001B3L
      h ^= (c >>> 8); h *= 0x100000001B3L
      i += 1
    }
    h
  }
  def hash64(s: String): Long = hash64(s, 0, s.length)

  /** Character k-gram shingle hashes of a string (pure, deterministic;
    * 64-bit gram hashes, so within-pair collisions are ~m²/2^65). */
  def shingles(text: String, k: Int = 5): Set[Long] = {
    if (text.length < k) Set(mix(hash64(text)))
    else (0 to text.length - k).map(i => mix(hash64(text, i, i + k), k.toLong)).toSet
  }

  /** Word n-gram shingle hashes (whitespace tokens): the document-level
    * alternative to character k-grams — robust to intra-word edits, smaller
    * sets on long documents (|tokens| vs |chars| shingles). */
  def wordShingles(text: String, n: Int = 3): Set[Long] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set(mix(hash64(toks.mkString(" "))))
    else toks.sliding(n).map(w => mix(hash64(w.mkString(" ")), n.toLong, 31L)).toSet
  }

  /** The shingle function of the LSH paths: word n-grams with
    * `wordNgrams > 0` (document-level dedup: robust to intra-word edits,
    * |tokens|-sized sets instead of |chars|-sized on long documents), else
    * character k-grams. */
  private def shingler(k: Int, wordNgrams: Int): String => Set[Long] =
    if (wordNgrams > 0) t => wordShingles(t, wordNgrams) else t => shingles(t, k)

  def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size.toDouble

  /** MinHash signature with p universal-hash permutations h_i(x) = mix(seed_i, x). */
  def minhashSignature(sh: Set[Long], perms: Int, seed: Long = 7L): Array[Long] = {
    val sig = Array.fill(perms)(Long.MaxValue)
    for (s <- sh; i <- 0 until perms) {
      val h = mix(seed, i.toLong, s)
      if (h < sig(i)) sig(i) = h
    }
    sig
  }

  /** (band, bandHash, id) LSH banding rows for each doc — one narrow pass,
    * |docs| x bands output rows. Shared by the self-join (near-dup) and the
    * cross-join (decontamination) paths. */
  private def bandedSignatures(spark: SparkSession, ds: org.apache.spark.sql.Dataset[(Long, String)],
                               sh: String => Set[Long], perms: Int, bands: Int): DataFrame = {
    import spark.implicits._
    val rowsPerBand = perms / bands
    ds.mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val sig = minhashSignature(sh(text), perms)
        (0 until bands).iterator.map { b =>
          val bandHash = mix(sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).toSeq :+ b.toLong: _*)
          (b, bandHash, id)
        }
      }
    }.toDF("band", "bandHash", "id")
  }

  // ------------------------------------------------------------ minhash LSH

  /**
   * Near-duplicate pairs by MinHash + banded LSH + exact Jaccard verify.
   * One narrow pass computes signatures; `bands` explode rows by the band
   * count only; the single shuffle groups by (band, bandHash). Pairs are
   * generated inside buckets, deduped, then exact-verified on the shingle
   * sets (re-computed only for candidate docs — a semi-join, not all docs).
   *
   * `exhaustive = true` skips the LSH banding and verifies ALL pairs —
   * O(n^2), bounded corpora only, but provably complete: the DuckDB-oracle
   * configuration (exact Jaccard over raw k-grams reproduces the verify
   * bit-for-bit, since the shingle hash is injective on any real corpus —
   * 64-bit, ~1e-9 collision odds at oracle scale).
   */
  def minhashNearDups(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, perms: Int = 32, bands: Int = 8,
                      threshold: Double = 0.7, maxBucket: Int = 2000,
                      exhaustive: Boolean = false, wordNgrams: Int = 0): DataFrame = inRun(spark, "minhash") { run =>
    import spark.implicits._
    val sh = shingler(k, wordNgrams)
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text")).as[(Long, String)]
    val candidates = if (exhaustive) {
      val ids = base.toDF("id", "text").select($"id")
      ids.as("l").join(ids.as("r"), col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    } else bandedPairs(run, "minhashNearDups", bandedSignatures(spark, base, sh, perms, bands),
      Seq("band", "bandHash"), maxBucket)
    verifiedJaccard(spark, candidates, base.toDF("id", "text"), sh, threshold)
  }

  // ------------------------------------------- persisted signature index

  /**
   * Persist the MinHash banding table of a corpus as a NEAR-DUP INDEX:
   * parquet `(bandHash, id)` PARTITIONED BY `band` under `<dir>/bands`,
   * plus `<dir>/params` pinning (k, perms, bands, wordNgrams) so all later
   * maintenance bands identically. The dedup analogue of
   * [[Similarity.writeIvfIndex]] and of the reference's persistent store +
   * delta discipline (`Database/Neo4jDatabaseController.java:136-222`): a
   * real pipeline dedups INCREMENTALLY — the corpus is banded once at
   * ingest, and each new arrival batch band-joins the store
   * ([[incrementalNearDups]]) instead of re-banding 100 TB per call.
   */
  def writeMinhashIndex(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 5, perms: Int = 32, bands: Int = 8,
                        wordNgrams: Int = 0): Unit = {
    import spark.implicits._
    val sh = shingler(k, wordNgrams)
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text")).as[(Long, String)]
    bandedSignatures(spark, base, sh, perms, bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
    Seq((k, perms, bands, wordNgrams)).toDF("k", "perms", "bands", "wordNgrams")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  private def readIndexParams(spark: SparkSession, dir: String): (Int, Int, Int, Int) = {
    val r = spark.read.parquet(s"$dir/params").select("k", "perms", "bands", "wordNgrams").first()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /** Band `newDocs` with the index's pinned parameters and APPEND the rows
    * to the store — call after [[incrementalNearDups]] has surfaced the
    * batch's pairs, so the next batch joins against old ∪ new. */
  def appendMinhashIndex(spark: SparkSession, newDocs: DataFrame, idCol: String, textCol: String,
                         dir: String): Unit = {
    import spark.implicits._
    val (k, perms, bands, wordNgrams) = readIndexParams(spark, dir)
    val sh = shingler(k, wordNgrams)
    val base = newDocs.select(col(idCol).cast("long").as("id"), col(textCol).as("text")).as[(Long, String)]
    bandedSignatures(spark, base, sh, perms, bands)
      .write.mode("append").partitionBy("band").parquet(s"$dir/bands")
  }

  /**
   * Near-dup pairs INVOLVING AT LEAST ONE DOC OF `newDocs`, served from a
   * persisted index ([[writeMinhashIndex]]): the batch is banded with the
   * index's pinned parameters, candidates come from the (band, bandHash)
   * equi-join of the batch's rows against store ∪ batch, and exact Jaccard
   * verifies shingle sets recomputed ONLY for candidate docs (texts from
   * `corpus` ∪ `newDocs`). Bucket capping is computed over store ∪ batch, so
   * the result is EXACTLY the full-rebuild pairs restricted to
   * new-involving pairs: `full(old ∪ new) == old-only pairs ∪ this`
   * (OpsSpec pins the identity; q56 puts the write → read → band-join →
   * verify round trip under the driver hash at its provably-complete
   * exact-dup threshold).
   *
   * 100 TB shape: the store is never re-banded — the batch's banding is one
   * narrow pass over the ARRIVALS only, the join shuffles batch-bands
   * against the (partitioned) store, and verification stays
   * candidate-proportional.
   */
  def incrementalNearDups(spark: SparkSession, newDocs: DataFrame, idCol: String, textCol: String,
                          corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                          indexDir: String, threshold: Double = 0.7,
                          maxBucket: Int = 2000): DataFrame = inRun(spark, "incremental") { run =>
    import spark.implicits._
    val (k, perms, bands, wordNgrams) = readIndexParams(spark, indexDir)
    val sh = shingler(k, wordNgrams)
    val newBase = newDocs.select(col(idCol).cast("long").as("id"), col(textCol).as("text")).as[(Long, String)]
    val stored = spark.read.parquet(s"$indexDir/bands")
      .select(col("band").cast("int").as("band"), col("bandHash"), col("id"))
    // capped over store ∪ batch: bucket sizes (and drops) match a full rebuild
    val cand = bandedPairs(run, "incrementalNearDups", bandedSignatures(spark, newBase, sh, perms, bands),
      Seq("band", "bandHash"), maxBucket, store = Some(stored))
    val allDocs = corpus.select(col(corpusIdCol).cast("long").as("id"), col(corpusTextCol).as("text"))
      .unionByName(newBase.toDF("id", "text"))
    verifiedJaccard(spark, cand, allDocs, sh, threshold)
  }

  // ------------------------------------------------------- cluster collapse

  /**
   * Near-dup CLUSTER collapse — the step a training-data pipeline actually
   * ships: pairs are only half the dedup story, because similarity is
   * transitive in practice (A~B and B~C must collapse together even when
   * A~C missed the threshold). Runs connected components (GraphOps
   * large-star/small-star — converges to the MINIMUM id per component)
   * over the near-dup pair graph and maps EVERY input doc to its cluster's
   * canonical representative; docs with no near-dup keep themselves.
   *
   * 100 TB shape: the CC runs only over pair ENDPOINTS (typically a small
   * fraction of the corpus), and the final mapping is one left join of the
   * id column against that component table — the corpus text is never
   * shuffled. All knobs pass through to [[minhashNearDups]].
   *
   * Returns (doc_id, keep_id); `keep_id == doc_id` for cluster reps and
   * singletons, so `filter(doc_id === keep_id)` IS the deduplicated corpus.
   */
  def dedupClusters(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, perms: Int = 32, bands: Int = 8, threshold: Double = 0.7,
                    maxBucket: Int = 2000, exhaustive: Boolean = false,
                    wordNgrams: Int = 0): DataFrame = {
    val pairs = minhashNearDups(spark, docs, idCol, textCol, k, perms, bands, threshold,
      maxBucket, exhaustive, wordNgrams)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = graft.graph.GraphOps.connectedComponents(spark, edges)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id").withColumnRenamed("component", "keep_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
  }

  // -------------------------------------------------------- decontamination

  /**
   * Eval-set decontamination — the cross-corpus near-dup JOIN a training
   * pipeline runs before shipping: find corpus documents whose text
   * near-matches a benchmark/eval document so they can be dropped (training
   * on eval look-alikes inflates benchmark scores). Same MinHash+LSH
   * machinery as [[minhashNearDups]] but corpus x eval instead of a
   * self-join: both sides band their signatures, candidates come from the
   * (band, bandHash) equi-join, and exact Jaccard verifies shingle sets
   * recomputed ONLY for candidate rows (semi-join per side — the verify
   * shuffle is proportional to candidates, never the corpus; the banding
   * touches the corpus text exactly once).
   *
   * `exhaustive = true` verifies the full corpus x eval cross product —
   * bounded eval sets only, provably complete: the DuckDB-oracle face.
   *
   * Two flagging rules, combinable: RELATIVE (`jaccard >= threshold`,
   * whole-document lookalikes) and ABSOLUTE (`shared_grams >=
   * minSharedGrams`, the classic "shares any long n-gram with eval" rule —
   * catches an eval question quoted inside a long unrelated document, where
   * jaccard stays near 0; pair with a large `k`/`wordNgrams`). A pair is
   * kept when EITHER rule fires; `minSharedGrams <= 0` disables the
   * absolute rule. On the LSH path, enabling the absolute rule adds a
   * gram-collision candidate channel (corpus grams joined against the
   * broadcast eval gram table) — band collisions alone require high Jaccard
   * and would never surface low-jaccard/high-overlap pairs.
   *
   * Returns (doc_id, eval_id, jaccard, shared_grams); anti-join the corpus
   * on doc_id to get the decontaminated set.
   */
  def decontaminate(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                    evalDocs: DataFrame, evalIdCol: String, evalTextCol: String,
                    k: Int = 5, perms: Int = 32, bands: Int = 8,
                    threshold: Double = 0.7, maxBucket: Int = 2000,
                    exhaustive: Boolean = false, wordNgrams: Int = 0,
                    minSharedGrams: Int = 0,
                    broadcastGramLimit: Long = 20000000L): DataFrame = inRun(spark, "decontaminate") { run =>
    import spark.implicits._
    val sh = shingler(k, wordNgrams)
    val corpus = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text")).as[(Long, String)]
    val evalSet = evalDocs.select(col(evalIdCol).cast("long").as("id"), col(evalTextCol).as("text")).as[(Long, String)]

    val candidates = if (exhaustive) {
      corpus.toDF("id", "text").select($"id".as("doc_id"))
        .crossJoin(evalSet.toDF("id", "text").select($"id".as("eval_id")))
    } else {
      val banded = run.cache(bandedSignatures(spark, corpus, sh, perms, bands))
      val lshCand = GroupCap(banded, Seq("band", "bandHash"), maxBucket, "decontaminate", "LSH buckets")
        .join(bandedSignatures(spark, evalSet, sh, perms, bands).withColumnRenamed("id", "eval_id"),
          Seq("band", "bandHash"))
        .select($"id".as("doc_id"), $"eval_id")
      // The ABSOLUTE rule needs its own candidate channel: MinHash band
      // collisions require HIGH Jaccard, so a long document quoting one eval
      // question (jaccard ~0, shared grams high) never collides. When the
      // rule is on, every (doc, eval) pair sharing >= minSharedGrams raw
      // grams becomes a candidate via a gram-equality join against the eval
      // gram table — the full-corpus shingle pass this costs is what exact
      // n-gram collision inherently requires; the verify stage stays
      // candidate-proportional. The eval side is USUALLY broadcast-small,
      // but "usually" is not a contract: a 100k-doc eval suite x thousands
      // of grams each exceeds broadcast limits, so the gram table is
      // counted first (one agg over the eval side only — cheap relative to
      // the corpus pass) and above `broadcastGramLimit` rows the join
      // degrades to a plain shuffle join instead of dying in a broadcast OOM.
      val evalGrams = if (minSharedGrams <= 0) None else Some {
        run.cache(evalSet
          .flatMap { case (id, t) => sh(t).iterator.map(g => (g, id)) }
          .toDF("g", "eval_id"))
      }
      val gramCand = evalGrams.map { eg =>
        val evalGramCount = eg.count()
        val evalSide =
          if (evalGramCount <= broadcastGramLimit) broadcast(eg)
          else {
            log.warn(s"decontaminate: eval gram table has $evalGramCount rows " +
              s"(> broadcastGramLimit=$broadcastGramLimit); using a shuffle join " +
              "for the absolute-rule candidate channel")
            eg
          }
        val corpusGrams = corpus
          .flatMap { case (id, t) => sh(t).iterator.map(g => (id, g)) }
          .toDF("doc_id", "g")
        corpusGrams.join(evalSide, Seq("g"))
          .groupBy($"doc_id", $"eval_id").agg(count(lit(1)).as("sg"))
          .filter($"sg" >= minSharedGrams)
          .select($"doc_id", $"eval_id")
      }
      // the candidate pairs are kept rows handed to the result; once their
      // count builds them, the corpus-sized banding cache and the eval gram
      // table are freed
      val cand = run.handOff(gramCand.map(lshCand.unionByName(_)).getOrElse(lshCand)
        .distinct()
        .localCheckpoint(false))
      keptRows(cand).get.count()
      banded.unpersist(false)
      evalGrams.foreach(_.unpersist(false))
      cand
    }

    val candDocIds = candidates.select($"doc_id".as("id")).distinct()
    val candEvalIds = candidates.select($"eval_id".as("id")).distinct()
    val shC = corpus.toDF("id", "text").join(candDocIds, Seq("id"), "left_semi")
      .as[(Long, String)].map { case (id, t) => (id, sh(t).toSeq) }.toDF("doc_id", "sh_a")
    val shE = evalSet.toDF("id", "text").join(candEvalIds, Seq("id"), "left_semi")
      .as[(Long, String)].map { case (id, t) => (id, sh(t).toSeq) }.toDF("eval_id", "sh_b")
    candidates.join(shC, Seq("doc_id")).join(shE, Seq("eval_id"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (e, d, sa, sb) =>
        val a = sa.toSet; val b = sb.toSet
        (d, e, jaccard(a, b), a.intersect(b).size.toLong)
      }
      .toDF("doc_id", "eval_id", "jaccard", "shared_grams")
      .filter(col("jaccard") >= threshold ||
        (lit(minSharedGrams) > 0 && col("shared_grams") >= minSharedGrams))
      .select($"doc_id", $"eval_id", round($"jaccard", 6).as("jaccard"), $"shared_grams")
  }

  // ----------------------------------------------------- word-set jaccard

  /** Exact pairwise word-set (1-gram) Jaccard over a bounded id range —
    * the SQL-oracle-checkable face of n-gram Jaccard dedup (array_intersect /
    * array_union are codegen'd built-ins; no UDF). For unbounded inputs use
    * [[minhashNearDups]] which blocks via LSH instead of all-pairs. */
  def wordJaccardPairs(docs: DataFrame, idCol: String, textCol: String, maxId: Long): DataFrame = {
    val base = docs.filter(col(idCol) < maxId)
      .select(col(idCol).as("id"), array_distinct(split(col(textCol), " ")).as("words"))
    base.as("l").join(base.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(size(array_intersect(col("l.words"), col("r.words"))).cast("double") /
          size(array_union(col("l.words"), col("r.words"))), 6).as("jaccard"))
  }

  /** Exact pairwise character-k-gram Jaccard over a bounded id range — the
    * SQL-oracle-checkable face of the MinHash VERIFY stage: the same shingle
    * semantics as [[shingles]] but over the raw gram strings, so an external
    * engine reproduces it without our hash function. Built-ins only
    * (sequence/transform/substring/array_distinct are codegen'd). */
  def charShingleJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                              maxId: Long, k: Int = 5, threshold: Double = 0.1): DataFrame = {
    val sh = docs.filter(col(idCol) < maxId)
      .select(col(idCol).as("id"),
        explode(array_distinct(expr(
          s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), i -> substring($textCol, i, $k))"))).as("g"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jaccard"))
  }

  /** Banded sign-bit-signature Hamming candidates over an embedding column —
    * the SQL-oracle-checkable face of the SimHash PIPELINE (band -> bucket
    * self-join -> bit_count(xor) verify). The signature is the embedding's
    * own sign bits (low `bits` dims) instead of token hashes, so an external
    * engine reproduces it bit-for-bit from the same parquet. */
  def signBitHammingCandidates(embeddings: DataFrame, idCol: String, vecCol: String,
                               bits: Int = 60, bands: Int = 4): DataFrame = {
    val bandBits = bits / bands
    val sig = embeddings.select(col(idCol).as("id"),
      expr(s"aggregate(sequence(0, ${bits - 1}), 0L, (acc, j) -> acc + IF(element_at($vecCol, j + 1) > CAST(0 AS FLOAT), shiftleft(1L, j), 0L))").as("sig"))
    val banded = sig.select(col("id"), col("sig"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("key", expr(s"shiftright(sig, $bandBits * band) & ${(1L << bandBits) - 1}"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.sig").as("sa"), col("r.sig").as("sb"))
      .distinct()
      .select(col("id_a"), col("id_b"), expr("CAST(bit_count(sa ^ sb) AS INT)").as("hamming"))
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (bit-vote). The token hash is the
    * first 8 bytes (big-endian) of MD5(token UTF-8) — a standard hash any
    * external engine computes identically, so the FULL simhash pipeline
    * (signature -> 16-bit bands -> bucket join -> Hamming verify) is
    * certified bit-for-bit by the q39 DuckDB oracle; a JVM-seeded hash
    * (String.hashCode) would have kept it rows-only forever. */
  def simhash(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    for (tok <- text.split("\\s+") if tok.nonEmpty) {
      val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L; var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dup pairs: 4x16-bit bands for candidates (any pair within
    * Hamming distance <= maxHamming shares at least one band when
    * maxHamming < 4), then exact Hamming verify. */
  def simhashNearDups(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = inRun(spark, "simhash") { run =>
    import spark.implicits._
    val banded = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val sig = simhash(t)
        (0 until 4).map(b => (b, (sig >>> (16 * b)) & 0xFFFFL, id, sig))
      }.toDF("band", "key", "id", "sig")
    bandedPairs(run, "simhashNearDups", banded, Seq("band", "key"), maxBucket, payload = Seq("sig"))
      .as[(Long, Long, Long, Long)]
      .map { case (a, b, sa, sb) => (a, b, hamming(sa, sb)) }
      .toDF("id_a", "id_b", "hamming")
      .filter(col("hamming") <= maxHamming)
  }

  // ----------------------------------------------------- embedding near-dup

  /** Cosine near-duplicates over an embedding column, random-hyperplane LSH
    * bucketed (`planes` seeded hyperplanes -> sign signature; same-signature
    * vectors are candidates) then exact-cosine verified.
    *
    * `exhaustive = true` skips the bucketing and verifies ALL pairs — O(n^2),
    * only for bounded corpora, but provably complete, so it is the DuckDB-
    * oracle configuration (the same exhaustive-face pattern as
    * Similarity.lshTopK's probeAll): the candidate generation the LSH path
    * approximates is certified exactly by an external engine. */
  def embeddingNearDups(spark: SparkSession, embeddings: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 12, threshold: Double = 0.95, seed: Long = 13L,
                        maxBucket: Int = 2000, exhaustive: Boolean = false): DataFrame = inRun(spark, "embedding") { run =>
    import spark.implicits._
    val base = embeddings.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
    val candidates =
      if (exhaustive) {
        val b = base.toDF("id", "v")
        b.as("l").join(b.as("r"), col("l.id") < col("r.id"))
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
            col("l.v").as("va"), col("r.v").as("vb"))
      } else bandedPairs(run, "embeddingNearDups", base.map { case (id, v) =>
          (id, v, Similarity.hyperplaneSignature(v.toArray, planes, seed))
        }.toDF("id", "v", "sig"), Seq("sig"), maxBucket, payload = Seq("v"))
    candidates
      .as[(Long, Long, Seq[Float], Seq[Float])]
      .map { case (a, b, va, vb) => (a, b, Similarity.cosine(va.toArray, vb.toArray)) }
      .toDF("id_a", "id_b", "cosine")
      .filter(col("cosine") >= threshold)
      .withColumn("cosine", round(col("cosine"), 6))
  }
}
