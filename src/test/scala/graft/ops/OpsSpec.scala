package graft.ops

import graft.SparkTestHarness
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  val texts = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and the cat"),
    (2L, "der schnelle braune fuchs springt und der hund und die katze"),
    (3L, "le renard brun rapide saute et le chien et les chats"),
    (4L, "el zorro marron rapido salta y el perro y los gatos"),
    (5L, "xyzzy plugh 12345"),
    (6L, "the quick brown fox jumps over the lazy dog and the cat"), // dup of 1
    (7L, "the quick brown fox jumps over the lazy dog and the bat")  // near-dup of 1
  )
  lazy val docs = texts.toDF("doc_id", "text")

  test("token count matches naive whitespace split on single-spaced text") {
    val got = docs.select($"doc_id", TextOps.tokenCountEst($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, t) <- texts) assert(got(id) == t.split(" ").length, s"doc $id")
  }

  test("language id picks the right stopword language, 'und' for none") {
    val got = docs.select($"doc_id", TextOps.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en"); assert(got(2L) == "de")
    assert(got(3L) == "fr"); assert(got(4L) == "es")
    assert(got(5L) == "und")
  }

  test("vocabulary counts tokens with a frequency filter") {
    val vocab = TextOps.vocabulary(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "the" appears 3x in doc 1, 3x in its dup 6, 3x in near-dup 7 = 9
    assert(vocab("the") == 9L)
    assert(vocab("katze") == 1L)
    val filtered = TextOps.vocabulary(docs, "text", minCount = 3L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(filtered.contains("the") && !filtered.contains("katze"))
    assert(filtered.values.forall(_ >= 3L))
  }

  test("repetition signals match hand-computed Gopher-style fractions") {
    // "a b a b c": bigrams [a b, b a, a b, b c] -> top "a b" cnt=2 len=3,
    // text len 9 -> 2*3/9; trigrams [a b a, b a b, a b c] all cnt=1,
    // tie-break max gram "b a b" -> 1*5/9; words 5, distinct 3 -> 1-3/5
    val d = Seq((1L, "a b a b c"), (2L, "x"), (3L, "q r")).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) == ((math.floor(2.0 * 3 / 9 * 1e6 + 0.5) / 1e6,
                        math.floor(5.0 / 9 * 1e6 + 0.5) / 1e6, 1.0 - 3.0 / 5)))
    // single word: no n-grams -> 0.0; all words distinct -> 0.0
    assert(got(2L) == ((0.0, 0.0, 0.0)))
    // "q r": one bigram "q r" cnt=1 len=3, text len 3 -> frac 1.0
    assert(got(3L) == ((1.0, 0.0, 0.0)))
  }

  test("repetition signals equal the per-gram counting expression on tied, repeated and odd texts") {
    // the reference counts each distinct gram with its own filter over the
    // gram array, the form the one-pass sort-and-fold replaced
    def reference(text: org.apache.spark.sql.Column) = {
      val ws = split(text, "\\s+")
      def ngrams(n: Int) = when(size(ws) >= n, transform(sequence(lit(1), size(ws) - (n - 1), lit(1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + lit(k))): _*)))
        .otherwise(array().cast("array<string>"))
      def topFrac(n: Int) = {
        val gs = ngrams(n)
        val best = array_max(transform(array_distinct(gs), b => struct(size(filter(gs, x => x === b)).as("cnt"), b.as("g"))))
        when(size(gs) >= 1, round(best.getField("cnt") * length(best.getField("g")) / length(text).cast("double"), 6))
          .otherwise(lit(0.0))
      }
      Seq(topFrac(2), topFrac(3), round(lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws), 6))
    }
    val rnd = new scala.util.Random(42)
    val words = Seq("a", "b", "ab", "ba", "zz", "é", "a b")
    val odd = Seq(null, "", " ", "  lead", "trail  ", "x", "a a", "a b a b c", "b a b a", "c\tc\nc c",
      "ab ab a b ab", "é é e é", "q r q r q r s")
    val generated = (0 until 200).map(_ => Seq.fill(1 + rnd.nextInt(14))(words(rnd.nextInt(words.size))).mkString(" "))
    val d = (odd ++ generated).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (top2, top3, dup) = TextOps.repetitionCols($"text")
    val got = d.select($"doc_id", top2, top3, dup).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val want = d.select($"doc_id" +: reference($"text"): _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got == want)
  }

  test("quality filter: ordered first-fail reasons, keep iff no rule trips") {
    val d = Seq(
      // 24 tokens, varied words, no dominant bigram -> keep
      (1L, (1 to 24).map(i => s"w$i").mkString(" ")),
      // under the token floor -> too_short (even though it is also repetitive:
      // rule ORDER decides the reason)
      (2L, "dup dup dup dup"),
      // 24 tokens but only 2 distinct words -> dup_words fires before the
      // 2-gram rule (both would trip; order decides)
      (3L, Seq.fill(12)("ha ho").mkString(" ")),
      // 30 tokens, distinct enough (dup frac = 1 - 16/30 ~= 0.47) but one
      // dominant repeated bigram -> repetitive_2gram
      (4L, (Seq.fill(8)("badger badger") ++ (1 to 14).map(i => s"u$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextOps.qualityFilter(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(4), r.getBoolean(5))).toMap
    assert(got == Map(1L -> ("keep", true), 2L -> ("too_short", false),
      3L -> ("dup_words", false), 4L -> ("repetitive_2gram", false)))
  }

  test("quality filter signals equal the standalone q20/q59 operator outputs") {
    // the composed filter must publish the SAME rounded signal values as the
    // individually-oracled operators it composes
    val d = Seq((1L, "a b a b c"), (2L, "x y z"), (3L, Seq.fill(30)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val sig = TextOps.repetitionSignals(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    val tok = d.select(col("doc_id"), TextOps.tokenCountEst(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qf = TextOps.qualityFilter(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(qf(id)._1 == tok(id), s"doc $id token_count")
      assert(qf(id)._2 == sig(id)._2, s"doc $id dup_word_frac")
      assert(qf(id)._3 == sig(id)._1, s"doc $id top2gram_char_frac")
    }
  }

  test("sequence packing: per-shard running offsets and chunk spans, hand-computed") {
    // one shard (shards=1), chunk=10 tokens; docs of 4, 8, 3 tokens:
    //   doc 1: [0, 4)  -> chunks 0..0
    //   doc 2: [4, 12) -> chunks 0..1 (crosses the boundary)
    //   doc 3: [12, 15)-> chunks 1..1
    val d = Seq((1L, "a b c d"), (2L, "a b c d e f g h"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val got = TextOps.packSequences(d, "doc_id", "text", chunkTokens = 10, shards = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == Map(1L -> (0L, 0L, 0L), 2L -> (4L, 0L, 1L), 3L -> (12L, 1L, 1L)))
  }

  test("sequence packing: shards pack independently and deterministically") {
    val d = (0L until 40L).map(i => (i, Seq.fill(3 + (i % 4).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val a = TextOps.packSequences(d, "doc_id", "text", 16, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    val b = TextOps.packSequences(d.repartition(7), "doc_id", "text", 16, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(a.sameElements(b)) // layout is content-addressed, not partitioning-dependent
    // within a shard, offsets are the prefix sums of token counts in id order
    val shard0 = a.filter(_._2 == 0L).map(x => (x._1, x._3))
    val ids = (0L until 40L).filter(_ % 4 == 0)
    val toks = ids.map(i => 3 + (i % 4)) // all id%4==0 -> 3 tokens each
    val offs = toks.scanLeft(0L)(_ + _).init
    assert(shard0.toSeq == ids.zip(offs))
  }

  test("tf-idf matches a naive in-memory computation; minDf filters rare tokens") {
    val d = Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "apple durian"))
      .toDF("doc_id", "text")
    val got = TextOps.tfIdf(d, "doc_id", "text", minDf = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    // df: apple 2, banana 2, cherry 1 (dropped), durian 1 (dropped); N=3
    def s(tf: Long, df: Long) = math.floor(tf * math.log(3.0 / df) * 1e6 + 0.5) / 1e6
    assert(got == Set(
      (1L, "apple", 2L, 2L, s(2, 2)), (3L, "apple", 1L, 2L, s(1, 2)),
      (1L, "banana", 1L, 2L, s(1, 2)), (2L, "banana", 1L, 2L, s(1, 2))))
  }

  test("unigram log-loss: hand-computed cross-entropy; frozen model scores new docs") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2, b=2, c=1, total=5 -> p(a)=p(b)=0.4, p(c)=0.2
    val got = TextOps.unigramLogLoss(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(1L) == ((3L, r6(-(2 * math.log(0.4) + math.log(0.4)) / 3))))
    assert(got(2L) == ((2L, r6(-(math.log(0.4) + math.log(0.2)) / 2))))
    // frozen-model arm: score a NEW doc against doc-1+2's model; tokens
    // absent from the model (inner join) drop from the average
    val model = TextOps.unigramModel(
      d.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token")))
    val newDocs = Seq((9L, "c c zzz")).toDF("doc_id", "text")
    val scored = TextOps.unigramLogLoss(newDocs, "doc_id", "text", Some(model)).collect()
    assert(scored.length == 1 && scored(0).getLong(1) == 2L) // zzz dropped
    assert(scored(0).getDouble(2) == r6(-math.log(0.2)))
  }

  test("chunkText: window/stride spans, overlap, partial tail, short-doc single chunk") {
    val d = Seq((1L, "t1 t2 t3 t4 t5 t6 t7"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.chunkText(d, "doc_id", "text", windowTokens = 4, strideTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(x => (x._1, x._2))
    assert(got.toSeq == Seq(
      (1L, 0, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 2, 4, "t3 t4 t5 t6"),
      (1L, 2, 4, 3, "t5 t6 t7"),
      (2L, 0, 0, 2, "a b")))
    // every token index is covered by at least one chunk, spans within bounds
    val d2 = Seq((3L, (1 to 37).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val ch = TextOps.chunkText(d2, "doc_id", "text", 8, 5).collect()
      .map(r => (r.getInt(2), r.getInt(3)))
    val covered = ch.flatMap { case (s, n) => s until (s + n) }.toSet
    assert(covered == (0 until 37).toSet)
    assert(ch.forall { case (s, n) => n >= 1 && s + n <= 37 })
  }

  test("PII redaction masks emails, digit runs, IPs; counts match; clean text untouched") {
    val d = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org today"),
      (2L, "call +1 (555) 123-4567 or 555 987 6543 now"),
      (3L, "server at 192.168.001.1 and 10.0.0.7"),
      (4L, "perfectly clean prose with the number 42")
    ).toDF("doc_id", "text")
    val got = TextOps.redactPii(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("reach me at <EMAIL> today", 1L, 0L)))
    // the digit-run pattern anchors on a leading DIGIT, so "+1 ..." keeps
    // its plus sign (conservative by design: no lookbehind, RE2-safe)
    assert(got(2L) == (("call +<NUMBER> or <NUMBER> now", 0L, 0L)))
    assert(got(3L) == (("server at <IP> and <IP>", 0L, 2L)))
    assert(got(4L) == (("perfectly clean prose with the number 42", 0L, 0L)))
  }

  test("corpus stats: hand-computed moments and exact interpolated percentiles") {
    // token counts: 1, 2, 3, 4 -> mean 2.5, p50 = 2.5 (interpolated), p90 = 3.7
    val d = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d")).toDF("doc_id", "text")
    val r = TextOps.corpusStats(d, "text").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 10L)
    assert(r.getDouble(3) == 2.5)                        // mean
    assert(math.abs(r.getDouble(4) - 1.290994) < 1e-6)   // stddev_samp of 1,2,3,4
    assert(r.getDouble(5) == 2.5)                        // p50 interpolated
    assert(math.abs(r.getDouble(6) - 3.7) < 1e-9)        // p90 = 3 + 0.7*(4-3)
  }

  /** Naive single-machine BPE trainer — the differential oracle for
    * TextOps.bpeMerges. Independent implementation: plain Maps and Vectors,
    * same tie-break contract (max count, then lexicographic (a, b)). */
  private def naiveBpe(texts: Seq[String], nMerges: Int,
                       minPairCount: Long): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => (w.map(_.toString).toVector, ws.size.toLong) }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((seq, n) <- words; i <- 0 until seq.length - 1)
        counts((seq(i), seq(i + 1))) = counts.getOrElse((seq(i), seq(i + 1)), 0L) + n
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        if (c >= minPairCount && out.size == rank - 1) {
          out += ((rank, a, b, c))
          words = words.map { case (seq, n) =>
            val nb = scala.collection.mutable.ArrayBuffer.empty[String]
            for (x <- seq)
              if (nb.nonEmpty && nb.last == a && x == b) nb(nb.length - 1) = a + b
              else nb += x
            (nb.toVector, n)
          }.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
        }
      }
    }
    out.toSeq
  }

  test("bpeMerges matches a naive in-memory BPE trainer on a mixed corpus") {
    // enough repetition for interesting merges, enough variety for ties
    val corpus = texts.map(_._2) ++ Seq(
      "lower lowest newest newest widest low low low lower newest",
      "aaa aaa aaab abab abab abab banana bandana banana")
    val cdf = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val expected = naiveBpe(corpus, nMerges = 12, minPairCount = 2L)
    val got = TextOps.bpeMerges(cdf, "text", nMerges = 12, minPairCount = 2L)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected, s"\n got=$got\n exp=$expected")
    assert(got.size == 12, "corpus should sustain 12 merges")
    // learned rules include multi-char symbols (a merge fed a later merge)
    assert(got.exists { case (_, a, b, _) => a.length > 1 || b.length > 1 })
  }

  test("bpeMerges stops when no pair reaches minPairCount; greedy overlap semantics") {
    val tiny = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(TextOps.bpeMerges(tiny, "text", nMerges = 5, minPairCount = 2L).count() == 0L)
    // "aaaa" under merge (a,a): greedy left-to-right gives ["aa","aa"], so
    // merge 2 is (aa,aa) with count 1 when minPairCount allows it
    val aaaa = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val rules = TextOps.bpeMerges(aaaa, "text", nMerges = 2, minPairCount = 1L)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(rules.toSeq == Seq(("a", "a", 3L), ("aa", "aa", 1L)))
  }

  test("stratified sampling is content-addressed: per-stratum rates, identical across runs") {
    val many = (0L until 2000L).map(i => (i, if (i % 4 == 0) "de" else "en")).toDF("doc_id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 1.0)
    val s1 = TextOps.stratifiedSample(many, "doc_id", "lang", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val s2 = TextOps.stratifiedSample(many, "doc_id", "lang", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSet == s2.toSet, "pure function of the id: identical across runs")
    // rate 1.0 keeps EVERY row of its stratum; rate 0.5 keeps roughly half
    assert(s1.count(_._2 == "de") == 500)
    val enKept = s1.count(_._2 == "en")
    assert(enKept > 600 && enKept < 900, s"~50% of 1500 en docs, got $enKept")
    // default rate 0.0 drops unlisted strata entirely
    val noDefault = TextOps.stratifiedSample(many, "doc_id", "lang", Map("de" -> 1.0))
      .collect().map(_.getString(1))
    assert(noDefault.forall(_ == "de") && noDefault.length == 500)
  }

  test("quality score is bounded and deterministic") {
    val q = docs.select(TextOps.qualityScore($"text").as("q")).collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    val q2 = docs.select(TextOps.qualityScore($"text").as("q")).collect().map(_.getDouble(0))
    assert(q.sameElements(q2))
  }

  test("winnow fingerprints: identical docs share all fingerprints") {
    val a = TextOps.winnow(texts(0)._2); val b = TextOps.winnow(texts(5)._2)
    assert(a == b)
    val c = TextOps.winnow(texts(4)._2)
    assert(a != c)
  }

  test("winnowGrams column expression matches the hand-computed selection") {
    // expectations independently computed with the DuckDB twin of the q45 oracle
    val in = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "ab"), (2L, "hello world hello world hello world")).toDF("doc_id", "text")
    val got = in.select($"doc_id", explode(TextOps.winnowGrams($"text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (0L, " brown f"), (0L, " fox jum"), (0L, " jumps o"), (0L, " lazy do"),
      (1L, "ab"), (2L, " hello w")))
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L) // docs 1 and 6 identical, keep min id
    assert(out.values.sum == texts.size)
  }

  test("minhash near-dups finds planted dup and near-dup with exact jaccard") {
    val pairs = Dedup.minhashNearDups(spark, docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap.contains((1L, 6L)), s"exact dup pair missing from $pairs")
    assert(asMap((1L, 6L)) == 1.0)
    // every reported jaccard equals the naive shingle jaccard
    val byId = texts.toMap
    for (((a, b), j) <- asMap) {
      val exact = Dedup.jaccard(Dedup.shingles(byId(a)), Dedup.shingles(byId(b)))
      assert(math.abs(j - BigDecimal(exact).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("dedup clusters: transitive chain collapses to one min-id representative") {
    // A~B and B~C above threshold, A~C below it: pairwise output alone would
    // keep A and C as separate "keeps"; the cluster collapse must unite them.
    val chain = Seq(
      (10L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh"),
      (11L, "aaaa bbbb cccc dddd eeee ffff gggg XXXX"), // ~10
      (12L, "aaaa bbbb cccc dddd eeee ffff YYYY XXXX"), // ~11, farther from 10
      (13L, "totally unrelated content zzz qqq www")
    ).toDF("doc_id", "text")
    val m = Dedup.dedupClusters(spark, chain, "doc_id", "text",
      threshold = 0.6, exhaustive = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sanity: 10~11 and 11~12 pass 0.6, 10~12 does not (transitivity matters)
    val j = (a: String, b: String) => Dedup.jaccard(Dedup.shingles(a), Dedup.shingles(b))
    val byId = Map(10L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhh",
      11L -> "aaaa bbbb cccc dddd eeee ffff gggg XXXX",
      12L -> "aaaa bbbb cccc dddd eeee ffff YYYY XXXX")
    assert(j(byId(10L), byId(11L)) >= 0.6 && j(byId(11L), byId(12L)) >= 0.6)
    assert(j(byId(10L), byId(12L)) < 0.6)
    assert(m == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
    // no near-dups at all -> empty pair graph -> every doc keeps itself
    val distinctDocs = Seq((1L, "alpha bravo charlie"), (2L, "delta echo foxtrot"))
      .toDF("doc_id", "text")
    val m2 = Dedup.dedupClusters(spark, distinctDocs, "doc_id", "text",
      threshold = 0.9, exhaustive = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == Map(1L -> 1L, 2L -> 2L))
  }

  test("decontamination: corpus docs matching the eval set are flagged; LSH path agrees with exhaustive") {
    // eval doc 900 is doc 1 verbatim; eval doc 901 is unrelated
    val evalSet = Seq(
      (900L, "the quick brown fox jumps over the lazy dog and the cat"),
      (901L, "completely different benchmark prompt about astronomy")
    ).toDF("eval_id", "text")
    val flaggedEx = Dedup.decontaminate(spark, docs, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5, exhaustive = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // docs 1 and 6 are byte-identical to eval 900; near-dup 7 also crosses 0.5
    assert(flaggedEx.contains((1L, 900L, 1.0)) && flaggedEx.contains((6L, 900L, 1.0)))
    assert(flaggedEx.exists(f => f._1 == 7L && f._2 == 900L))
    assert(!flaggedEx.exists(_._2 == 901L), "unrelated eval doc must flag nothing")
    // the LSH (banded) path finds the same exact matches
    val flaggedLsh = Dedup.decontaminate(spark, docs, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(flaggedLsh.contains((1L, 900L, 1.0)) && flaggedLsh.contains((6L, 900L, 1.0)))
    assert(flaggedLsh.subsetOf(flaggedEx), "LSH candidates are a subset of the exhaustive truth")
  }

  test("decontamination absolute rule: an eval quote inside a long document flags on shared grams") {
    // doc 50 QUOTES eval 900 inside much longer unrelated text: jaccard is
    // far below any whole-document threshold, but the shared-gram count is
    // high — the classic exact-n-gram-collision contamination rule
    val quote = "the quick brown fox jumps over the lazy dog and the cat"
    val longDoc = ("unrelated filler sentence about compilers and parsers " * 10) +
      quote + (" more filler text on query optimizers and storage engines" * 10)
    val corpus = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq :+ (50L, longDoc))
      .toDF("doc_id", "text")
    val evalSet = Seq((900L, quote)).toDF("eval_id", "text")
    val jaccardOnly = Dedup.decontaminate(spark, corpus, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5, exhaustive = true)
      .collect().map(_.getLong(0)).toSet
    assert(!jaccardOnly.contains(50L), "relative rule alone must miss the embedded quote")
    val withAbsolute = Dedup.decontaminate(spark, corpus, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5, exhaustive = true, minSharedGrams = 40)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(withAbsolute.contains(50L) && withAbsolute(50L) >= 40L,
      s"absolute rule must flag the quoting doc; got $withAbsolute")
    // the LSH path must find it too: MinHash bands never collide at
    // jaccard ~0.1, so this exercises the gram-collision candidate channel
    val viaLsh = Dedup.decontaminate(spark, corpus, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5, minSharedGrams = 40)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(viaLsh.contains(50L) && viaLsh(50L) >= 40L,
      s"LSH path's gram channel must flag the quoting doc; got $viaLsh")
  }

  test("LSH bucket cap: 10k-identical-doc cluster completes in bounded time") {
    // A degenerate boilerplate cluster: 10,000 byte-identical docs. Without a
    // bucket cap this generates ~50M candidate pairs inside one bucket; with
    // the cap the bucket is dropped (exact dedup owns identical content) and
    // the real near-dup pairs in the rest of the corpus are still found.
    val boiler = (1000L until 11000L).map(i => (i, "license boilerplate common header text apache v2"))
    val big = (texts ++ boiler).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashNearDups(spark, big, "doc_id", "text", threshold = 0.5, maxBucket = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120, s"cap failed to bound runtime: $sec s")
    assert(pairs.contains((1L, 6L)), "normal-corpus dup lost")
    assert(!pairs.exists(p => p._1 >= 1000L && p._2 >= 1000L), "boilerplate bucket not dropped")
    // simhash path under the same planted cluster
    val sPairs = Dedup.simhashNearDups(spark, big, "doc_id", "text", maxBucket = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sPairs.exists(p => p._1 == 1L && p._2 == 6L))
    assert(!sPairs.exists(p => p._1 >= 1000L && p._2 >= 1000L))
  }

  test("char-shingle jaccard matches the hashed-shingle jaccard on identical docs") {
    val pairs = Dedup.charShingleJaccardPairs(docs, "doc_id", "text", maxId = 10, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 6L)) == 1.0) // identical docs
    // near-dup of 1 shares most grams; disjoint docs share few
    assert(pairs((1L, 7L)) > 0.5)
    assert(pairs.getOrElse((1L, 5L), 0.0) < 0.1)
  }

  test("sign-bit hamming: identical vectors collide in every band at distance 0") {
    val out = Dedup.signBitHammingCandidates(embeddings, "vec_id", "embedding", bits = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists(p => p._1 == 3L && p._2 == 100L && p._3 == 0), s"got ${out.take(5).mkString(",")}")
  }

  test("simhash near-dups finds identical docs at hamming 0") {
    val pairs = Dedup.simhashNearDups(spark, docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 6L && p._3 == 0))
    // pinned signatures (independently computed md5-bit-vote values): the
    // q39 DuckDB oracle re-derives these bits, so an accidental change to
    // the token hash or bit order must fail HERE, not only at verify time
    assert(Dedup.simhash("hello world") == 6719652267731058694L)
    assert(Dedup.simhash("the quick brown fox jumps over the lazy dog") == 1140603644929599182L)
  }

  // ---------------------------------------------------------- embeddings

  def vec(seed: Int): Seq[Float] =
    (0 until 16).map(i => (graft.gen.SyntheticRepoFiles.mix(seed.toLong, i.toLong) % 1000).toFloat / 1000f)

  lazy val embeddings = ((0 until 30).map(i => (i.toLong, vec(i))) :+ (100L, vec(3)))
    .toDF("vec_id", "embedding")

  test("brute-force top-k matches naive cosine ranking") {
    val q = embeddings.filter($"vec_id" === 0)
    val got = Similarity.bruteForceTopK(q, embeddings, 5)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    val qv = vec(0).toArray
    val naive = ((0 until 30).map(i => (i.toLong, vec(i))) :+ (100L, vec(3)))
      .filter(_._1 != 0L)
      .map { case (id, v) => (id, Similarity.cosine(qv, v.toArray)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got.map(_._2).toSeq == naive.map(_._1))
  }

  test("embedding near-dups finds the planted duplicate vector") {
    val pairs = Dedup.embeddingNearDups(spark, embeddings, "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((3L, 100L)))
  }

  test("LSH top-k: finds genuinely-close vectors at rank 1 with exact cosines") {
    // vec 100 is a planted duplicate of vec 3: identical signature -> always
    // in the probed bucket; must come back at rank 1 with cosine 1.
    val q = embeddings.filter($"vec_id" === 3)
    val lsh = Similarity.lshTopK(spark, q, embeddings, 5, planes = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(lsh.exists(r => r._2 == 1 && r._3 == 100L && r._4 == 1.0), s"got ${lsh.mkString(", ")}")
    // every reported cosine equals the exact computation
    val byId = ((0 until 30).map(i => (i.toLong, vec(i))) :+ (100L, vec(3))).toMap
    for ((qid, _, nid, c) <- lsh) {
      val exact = Similarity.cosine(byId(qid).toArray, byId(nid).toArray)
      assert(math.abs(c - BigDecimal(exact).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // ANN recall on near-orthogonal random vectors is low by construction
    // (we probe bucket + 1-bit flips); asserted here only to be nonempty.
    assert(lsh.nonEmpty)
  }

  test("minhash with word n-gram shingles finds reworded near-dups") {
    val a = "the quick brown fox jumps over the lazy dog while birds sing in the trees above"
    val b = "the quick brown fox jumps over the lazy cat while birds sing in the trees above"
    // word-trigram jaccard of a/b is high (one substituted word kills 3 of
    // 14 trigrams); char-5-gram jaccard is higher still — the word path must
    // find the pair on its own shingle sets
    val corpus = Seq((1L, a), (2L, b), (4L, a),
      (3L, "completely unrelated text about databases and storage engines")).toDF("doc_id", "text")
    // exhaustive config: verification over word shingles is deterministic
    // (a single-band miss on a ~0.65-jaccard pair is a ~20% event, so the
    // probabilistic LSH path is not assertable for the reworded pair)
    val pairs = Dedup.minhashNearDups(spark, corpus, "doc_id", "text",
        threshold = 0.5, wordNgrams = 3, exhaustive = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L), s"got ${pairs.mkString(", ")}")
    val j = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    val expected = Dedup.jaccard(Dedup.wordShingles(a, 3), Dedup.wordShingles(b, 3))
    assert(math.abs(j - BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // LSH banded path: identical docs (jaccard 1) ALWAYS share every band
    val banded = Dedup.minhashNearDups(spark, corpus, "doc_id", "text",
        threshold = 0.5, wordNgrams = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.contains((1L, 4L)), s"got ${banded.mkString(", ")}")
    // unit sanity: identical token streams share all word shingles
    assert(Dedup.wordShingles("a  b c d", 3) == Dedup.wordShingles("a b c d", 3), "whitespace-insensitive")
  }

  test("LSH ANN: probe-all configuration equals brute force exactly") {
    val q = embeddings.filter($"vec_id" < 5)
    val lshAll = Similarity.lshTopK(spark, q, embeddings, 5, planes = 4, probeAll = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = Similarity.bruteForceTopK(q, embeddings, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(lshAll == brute)
  }

  test("IVF ANN: exhaustive probe equals brute force exactly; partial probe finds the planted dup") {
    val q = embeddings.filter($"vec_id" < 5)
    // nprobe = nlist => every inverted list is probed => the candidate set is
    // the full corpus and IVF must reproduce brute force EXACTLY
    val ivfAll = Similarity.ivfTopK(spark, q, embeddings, 5, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = Similarity.bruteForceTopK(q, embeddings, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ivfAll == brute)
    // partial probe: vec 100 is an identical copy of vec 3 -> same nearest
    // centroid -> always inside query 3's first probed list, rank 1, cosine 1
    val ivf1 = Similarity.ivfTopK(spark, embeddings.filter($"vec_id" === 3), embeddings,
        5, nlist = 4, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(ivf1.exists(r => r._2 == 1 && r._3 == 100L && r._4 == 1.0), s"got ${ivf1.mkString(", ")}")
  }

  test("persisted IVF index: round-trips, exact at probe-all, partition-pruned layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfIndex(spark, embeddings, dir, nlist = 4)
    // on-disk layout: inverted lists are parquet PARTITIONS keyed by cluster,
    // so a probe's scan can prune to the probed directories
    val listDirs = new java.io.File(s"$dir/lists").listFiles
      .filter(_.getName.startsWith("cluster=")).map(_.getName).sorted
    assert(listDirs.length == 4, s"expected 4 cluster partitions, got ${listDirs.mkString(",")}")
    // probe-all serving from the persisted index == exact brute force
    val q = embeddings.filter($"vec_id" < 5)
    val served = Similarity.ivfTopKIndexed(spark, q, dir, 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = Similarity.bruteForceTopK(q, embeddings, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served == brute)
    // partial probe from the index == the in-memory IVF path (same seed/fit)
    val servedPartial = Similarity.ivfTopKIndexed(spark, q, dir, 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val inMem = Similarity.ivfTopK(spark, q, embeddings, 5, nlist = 4, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(servedPartial == inMem)
  }

  test("persisted IVF degenerate shapes: nlist above corpus size still serves correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-deg").toString
    // more lists than vectors: the quantizer yields fewer centroids; the
    // index must still round-trip and probe-all must still be exact
    Similarity.writeIvfIndex(spark, embeddings, dir, nlist = 10000)
    val q = embeddings.filter($"vec_id" < 3)
    val served = Similarity.ivfTopKIndexed(spark, q, dir, 5, nprobe = 10000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = Similarity.bruteForceTopK(q, embeddings, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served == brute)
  }

  test("k-means quantizer: deterministic, assignments total, centroids bounded") {
    val c1 = Similarity.trainCentroids(spark, embeddings, k = 4)
    val c2 = Similarity.trainCentroids(spark, embeddings, k = 4)
    // mean-combine order across partitions can differ between runs, so
    // centroids are reproducible to float precision, not bit-for-bit
    assert(c1.length == c2.length, "same seed => same cluster count")
    for ((a, b) <- c1.zip(c2); (x, y) <- a.zip(b)) assert(math.abs(x - y) < 1e-5f)
    assert(c1.length <= 4 && c1.nonEmpty)
    assert(c1.forall(_.length == 16))
  }

  test("multimodal: real PNG/WAV decode (ImageIO/AudioSystem), frame rule, schema") {
    val media = Multimodal.syntheticMedia(spark, docs.withColumn("doc_id", $"doc_id"))
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == texts.size)
    for (f <- feats) {
      assert(f.features.length == 16)
      f.kind match {
        case "image" =>
          // decoded dims come from the ACTUAL ImageIO decode of the PNG bytes
          assert(f.decodedWidth == 8 + (f.media_id % 16).toInt)
          assert(f.decodedHeight == 8 + (f.media_id % 12).toInt)
          assert(math.abs(f.features.sum - 1.0f) < 1e-3, "luminance histogram L1 normalized")
          assert(f.frames == 1)
        case "audio" =>
          assert(f.sampleRateHz == 8000, "sample rate read from the real WAV header")
          assert(f.features.forall(v => v >= 0f && v <= 1f), "per-slice RMS in [0,1]")
          assert(f.frames == 1)
        case _ =>
          // frames come from the ACTUAL multi-frame GIF decode, matching the
          // encode rule min(32, 1 + id % 90)
          assert(f.frames == math.min(32L, 1 + f.media_id % 90).toInt)
          assert(f.decodedWidth == 8 + (f.media_id % 8).toInt)
          assert(f.decodedHeight == 8 + (f.media_id % 6).toInt)
          assert(math.abs(f.features.sum - 1.0f) < 1e-3)
      }
    }
    // codec round-trip is deterministic end-to-end
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.map(f => (f.media_id, f.features.toSeq)).toSet ==
      again.map(f => (f.media_id, f.features.toSeq)).toSet)
    // direct codec unit check: a known 9x9 PNG decodes to its own dimensions
    val (w, h, hist) = Multimodal.decodeImage(Multimodal.encodePng(7L, 9, 9))
    assert(w == 9 && h == 9 && math.abs(hist.sum - 1.0f) < 1e-3)
    val (rate, n, rms) = Multimodal.decodeWav(Multimodal.encodeWav(7L, 160))
    assert(rate == 8000 && n == 160 && rms.length == 16)
    // animated GIF: a known 4-frame 10x7 clip decodes to 4 real frames
    val (gw, gh, gframes, ghist) = Multimodal.decodeGif(Multimodal.encodeGif(7L, 10, 7, 4))
    assert(gw == 10 && gh == 7 && gframes == 4 && math.abs(ghist.sum - 1.0f) < 1e-3)
  }

  test("multimodal video fallback: a non-GIF container degrades to opaque features, not a failure") {
    // bytes no ImageIO reader claims (MP4-ish): must take the documented
    // opaque fallback — byte histogram + metadata frame sampling
    val opaque = MediaRow(9L, "video", Array.tabulate(256)(i => (i % 251).toByte),
      width = 64, height = 48, durationMs = 5000L)
    val f = Multimodal.extractFeatures(spark, spark.createDataset(Seq(opaque))).collect().head
    assert(f.frames == Multimodal.sampleFrameCount(5000L))
    assert(f.decodedWidth == 0 && f.decodedHeight == 0)
    assert(math.abs(f.features.sum - 1.0f) < 1e-3)
    // a CLAIMED-but-corrupt GIF must NOT silently take the fallback: it
    // throws and lands in the quarantine (T3), like any corrupt decode
    val corruptGif = MediaRow(10L, "video",
      "GIF89a".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3), 8, 8, 1000L)
    val isolated = Multimodal.extractFeaturesIsolated(spark, spark.createDataset(Seq(corruptGif)))
    assert(isolated.features.collect().isEmpty)
    val q = isolated.quarantine.collect()
    assert(q.length == 1 && q.head.media_id == 10L)
    isolated.release()
  }

  test("multimodal quarantine: corrupt payloads isolate per element (T3 shape)") {
    val good = MediaRow(1L, "image", Multimodal.encodePng(1L, 8, 8), 8, 8, 0L)
    val corrupt = MediaRow(2L, "image", Array[Byte](1, 2, 3), 8, 8, 0L)
    val ds = spark.createDataset(Seq(good, corrupt))
    val (result, left) = SparkTestHarness.leaksOf {
      val isolated = Multimodal.extractFeaturesIsolated(spark, ds)
      assert(isolated.features.collect().map(_.media_id).toSeq == Seq(1L))
      val q = isolated.quarantine.collect()
      assert(q.length == 1 && q.head.media_id == 2L && q.head.errorClass.nonEmpty)
      isolated.release() // caller owns the shared decode pass
    }
    result.get
    assert(left.rdds.isEmpty && left.cacheEntries == 0, left)
  }

  test("stratified sampling threshold ROUNDS rate*1e6: boundary semantics match a rounding engine") {
    // 0.3 * 1e6 is not exactly representable (299999.999...): a truncating
    // cast keeps threshold 299999 while DuckDB's CAST(round(...)) gets
    // 300000 — the boundary bucket diverges. The contract is round-on-both-
    // sides, so the engine-side result must equal a manual filter with the
    // ROUNDED threshold.
    import org.apache.spark.sql.functions._
    val many = (0L until 5000L).map(i => (i, "en")).toDF("doc_id", "lang")
    val got = TextOps.stratifiedSample(many, "doc_id", "lang", Map("en" -> 0.3))
      .collect().map(_.getLong(0)).toSet
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val expected = many.filter(bucket < lit(Math.round(0.3 * 1e6)))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, "threshold must be round(rate*1e6), not a truncating cast")
  }

  test("decontamination gram channel above broadcastGramLimit degrades to a shuffle join, same result") {
    val quote = "the quick brown fox jumps over the lazy dog and the cat"
    val longDoc = ("unrelated filler sentence about compilers and parsers " * 10) +
      quote + (" more filler text on query optimizers and storage engines" * 10)
    val corpus = (texts :+ (50L, longDoc)).toDF("doc_id", "text")
    val evalSet = Seq((900L, quote)).toDF("eval_id", "text")
    val viaBroadcast = Dedup.decontaminate(spark, corpus, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5, minSharedGrams = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // limit of 1 gram forces the shuffle-join fallback (the guard VERDICT r4
    // asked for: an oversized eval set must complete, not broadcast-OOM)
    val viaShuffle = Dedup.decontaminate(spark, corpus, "doc_id", "text",
      evalSet, "eval_id", "text", threshold = 0.5, minSharedGrams = 40,
      broadcastGramLimit = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaShuffle == viaBroadcast && viaShuffle.exists(_._1 == 50L))
  }

  test("banded minhash and simhash near-dups add no session cache entry; their candidates follow the returned frame") {
    for ((name, op) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "minhash" -> (() => Dedup.minhashNearDups(spark, docs, "doc_id", "text", threshold = 0.5)),
        "simhash" -> (() => Dedup.simhashNearDups(spark, docs, "doc_id", "text")))) {
      val (pairs, left) = SparkTestHarness.leaksOf(op())
      val frame = pairs.get
      assert(left.cacheEntries == 0, s"$name added ${left.cacheEntries} cache entries")
      assert(left.rdds.nonEmpty && left.rdds.subsetOf(SparkTestHarness.rddsRead(frame)),
        s"$name left ${left.rdds} persisted, the frame reads ${SparkTestHarness.rddsRead(frame)}")
      // the kept candidates serve repeated reads of the frame
      assert(frame.collect().toSet == frame.collect().toSet && frame.count() > 0)
    }
  }

  test("persisted minhash index: incremental equals full rebuild minus old pairs; append maintains the store") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-index").toString
    val old = docs
    val wave1 = Seq(
      (200L, texts.head._2),                                            // exact dup of doc 1
      (201L, "entirely new content about spark and parquet row groups") // fresh
    ).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(spark, old, "doc_id", "text", dir)
    val incr1 = pairSet(Dedup.incrementalNearDups(spark, wave1, "doc_id", "text",
      old, "doc_id", "text", dir, threshold = 0.5))
    val oldPairs = pairSet(Dedup.minhashNearDups(spark, old, "doc_id", "text", threshold = 0.5))
    val full1 = pairSet(Dedup.minhashNearDups(spark, old.unionByName(wave1), "doc_id", "text", threshold = 0.5))
    assert(incr1 == (full1 -- oldPairs), s"incremental != full minus old: $incr1 vs ${full1 -- oldPairs}")
    assert(incr1.exists(p => p._1 == 1L && p._2 == 200L && p._3 == 1.0))
    // second wave against the APPENDED store: pairs against wave1 docs must surface
    Dedup.appendMinhashIndex(spark, wave1, "doc_id", "text", dir)
    val wave2 = Seq((300L, "entirely new content about spark and parquet row groups")).toDF("doc_id", "text")
    val incr2 = pairSet(Dedup.incrementalNearDups(spark, wave2, "doc_id", "text",
      old.unionByName(wave1), "doc_id", "text", dir, threshold = 0.5))
    val full2 = pairSet(Dedup.minhashNearDups(spark,
      old.unionByName(wave1).unionByName(wave2), "doc_id", "text", threshold = 0.5))
    assert(incr2 == (full2 -- full1), s"wave-2 incremental != full2 minus full1: $incr2 vs ${full2 -- full1}")
    assert(incr2.exists(p => p._1 == 201L && p._2 == 300L && p._3 == 1.0))
  }
}
