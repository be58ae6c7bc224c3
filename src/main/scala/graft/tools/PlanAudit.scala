package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.KernelRun

/**
 * Plan audit: dumps formatted physical plans for the load-bearing queries to
 * PLANS.md so pushdown / codegen / exchange claims are verifiable artifacts,
 * not assertions. Run: sbt "runMain graft.tools.PlanAudit <sfDir>".
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val out = new StringBuilder
    out.append("# PLANS — physical-plan audit of load-bearing queries\n\n")
    out.append("Generated by `graft.tools.PlanAudit`; re-run after plan-affecting changes.\n")
    out.append("""
> The audits below are EXPLAIN dumps of query-catalog plans. The graph
> kernels' plans are not rebuilt here: with `GRAFT_KERNEL_EXPLAIN` set,
> each loop kernel (PageRank, CC, LP, HITS, SCC, BFS, k-core) prints the
> executed physical plan of its first boundary block to stderr from inside
> its run scope (`KernelRun.explain`, `graft/util/RunScope.scala`); SCC's
> is its first trim step. BPE training runs on the same loop and prints
> its first merge's plan the same way. The round-6 before/after
> snapshots of the headline queries are the files under `plans/r06/`; the
> changes behind them are logged in `OPTIMIZATION_r06.md`.
""")

    def audit(title: String, notes: String, execute: Boolean = false)(df: => org.apache.spark.sql.DataFrame): Unit = {
      out.append(s"\n## $title\n\n$notes\n\n```\n")
      val d = df
      // AQE only materializes exchange reuse in the FINAL plan — for
      // reuse-sensitive audits, run the query so the dump shows it.
      if (execute) d.count()
      out.append(d.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      out.append("\n```\n")
    }

    audit("q02 filter+project over lineitem",
      "Expect: PushedFilters on l_shipdate/l_discount reach the parquet scan; ReadSchema pruned to 5 columns; one WholeStageCodegen span, no shuffle.") {
      graft.queries.Queries.queries("q02_filter_project")(spark, sfDir)
    }

    audit("manifest scan filter (MineJob.manifestFilter)",
      "Expect: the path predicate is a data filter at the scan (partial pushdown of EndsWith), not a post-parse filter — noise rows never reach the parser.") {
      val files = graft.gen.SyntheticRepoFiles.generate(spark, graft.gen.SyntheticRepoFiles.Config(10))
      files.toDF().write.mode("overwrite").parquet("/tmp/plan-audit-repofiles")
      spark.read.parquet("/tmp/plan-audit-repofiles")
        .filter(graft.mine.MineJob.manifestFilter(col("path")))
    }

    audit("q01 aggregation",
      "Expect: partial_ aggregation before the exchange (map-side combine), final after; single shuffle.") {
      graft.queries.Queries.queries("q01_agg")(spark, sfDir)
    }

    audit("q03 broadcast join",
      "Expect: BroadcastHashJoin for the nation dim; no shuffle on the small side.") {
      graft.queries.Queries.queries("q03_join_agg")(spark, sfDir)
    }

    audit("q06 distinct pairs",
      "Expect: a partial HashAggregate on (l_suppkey, l_partkey) over the two-column scan, ONE Exchange " +
        "hashpartitioning(l_suppkey, l_partkey) at the session width, then the final HashAggregate. The parquet " +
        "scan carries no layout by those keys, so that exchange is the distinct's one shuffle; at sf0.1 the " +
        "partial aggregate removes almost nothing (600,000 rows in, 590,973 distinct pairs out), so nearly every " +
        "row crosses it.") {
      graft.queries.Queries.queries("q06_distinct_pairs")(spark, sfDir)
    }

    audit("q17 lazy per-vertex triangles (trianglesPerVertex)",
      "Expect (FINAL adaptive plan, query executed): the whole close runs as ONE " +
        "query — no eager total-count job (that was q17's round-3 defect: it paid " +
        "q16's `triangles.count()`); every branch that consumes the `und`-distinct " +
        "subtree resolves to the SAME materialized ShuffleQueryStage id below — " +
        "AQE computed the identical exchange once and reused the stage for all " +
        "consumers, so the un-persisted lazy path does not recompute the " +
        "undirected edge set per branch.", execute = true) {
      graft.queries.Queries.queries("q17_triangles_per_vertex")(spark, sfDir)
    }

    audit("q61 clustering coefficient (degree agg shares the triangle close's und subtree)",
      "Expect (FINAL adaptive plan, query executed): the undirected-distinct " +
        "exchange materializes ONCE — the degree aggregation branch and every " +
        "triangle-close branch resolve to the same ShuffleQueryStage id (AQE " +
        "stage reuse, same mechanism as q17); the final per-vertex join keys " +
        "on id with partial_count before its exchange.", execute = true) {
      graft.queries.Queries.queries("q61_clustering_coefficient")(spark, sfDir)
    }

    audit("q63 composed quality filter (zero-shuffle scan)",
      "Expect: NO Exchange anywhere — token count and both repetition signals " +
        "are inlined into one Project over the documents scan (the composed " +
        "filter is a single embarrassingly-parallel pass; subexpression " +
        "elimination shares the signal expressions between `reason` and `keep`).") {
      graft.queries.Queries.queries("q63_quality_filter")(spark, sfDir)
    }

    audit("q66 sequence packing (shard-partitioned window)",
      "Expect: ONE Exchange hashpartitioning on `shard` feeding a Window with " +
        "a per-partition Sort — the running offset never needs a global sort, " +
        "so parallelism equals the shard count at any scale.") {
      graft.queries.Queries.queries("q66_pack_sequences")(spark, sfDir)
    }

    audit("q68 perplexity scoring (self-trained unigram model)",
      "Expect: both aggregations show partial_ before their exchanges (the " +
        "wordcount shape); the model total folds back via a 1-row " +
        "BroadcastExchange (no driver round-trip); the scoring join keys on " +
        "token with the vocabulary-sized model side, then a combinable avg " +
        "per document.") {
      graft.queries.Queries.queries("q68_perplexity")(spark, sfDir)
    }

    audit("q71 node similarity (shared-neighbor pairing)",
      "Expect (FINAL adaptive plan, query executed): the symmetric-adjacency " +
        "subtrees resolve to reused query stages (the q17/q61 mechanism); the " +
        "pair enumeration is an equi-join on the shared neighbor id; the " +
        "intersection count shows partial_count before its (u,v)-keyed " +
        "exchange — co-adjacent pairs only, never a cross product.", execute = true) {
      graft.queries.Queries.queries("q71_node_similarity")(spark, sfDir)
    }

    audit("q22 lang-id (codegen-only text analytics)",
      "Expect: a single Project of string expressions inside WholeStageCodegen — no UDFs, no shuffle.") {
      graft.queries.Queries.queries("q22_lang_id")(spark, sfDir)
    }

    audit("persisted IVF index probe (ivfTopKIndexed, partial probe)",
      "Expect (FINAL adaptive plan, query executed): the inverted-list scan " +
        "carries `PartitionFilters: [... dynamicpruning ...]` on the `cluster` " +
        "partition column, fed from the broadcast query side — only the probed " +
        "list DIRECTORIES are read off disk, so a served probe touches " +
        "nprobe/nlist of the index bytes, not the whole corpus.", execute = true) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-plan-ivf"
      graft.ops.Similarity.writeIvfIndex(spark, e, idx, nlist = 8)
      graft.ops.Similarity.ivfTopKIndexed(spark, e.filter(col("vec_id") < 3), idx, k = 5, nprobe = 2)
    }

    // AQE off for this dump only: the AdaptiveSparkPlan wrapper prints the
    // un-executed initial plan without codegen ids, hiding the evidence.
    KernelRun.inRun(spark, "audit", Seq(KernelRun.AqeKey -> "false")) { _ =>
      audit("q24 ANN brute-force scoring (native codegen'd cosine)",
        "Expect (AQE off so codegen ids print): the corpus scan broadcast-joins the (tiny) query side and the Project computing cosine_similarity shows a [codegen id : N] annotation — the scoring kernel is the native Catalyst expression inside the generated join loop, NOT an aggregate/zip_with higher-order chain (those are CodegenFallback and would fence codegen around every scored row).") {
        graft.queries.Queries.queries("q24_ann_brute")(spark, sfDir)
      }
    }

    audit("resolve fan-out join with hub-key salting",
      "Corpus: `Probe`'s resolve corpus at 200,000 AP edges, over the 150,000-row floor below which no join " +
        "salts, with one (package, spec) key holding 10% of them (a mined sf0.001 corpus has no hub and plans " +
        "the unsalted join). Expect: the hub set, a local relation of (dstPackageId, versionRange, nsalt), " +
        "joins as BroadcastHashJoin onto both inputs; the fan-out is a shuffle join keyed (dstPackageId, " +
        "versionRange, salt), so the hub key's edges spread over its nsalt sub-keys (`HubSalt`); the matches " +
        "side is exploded over sub-keys for the hub key only.") {
      graft.resolve.ResolveJob.run(spark, Probe.hubCorpus(spark, 200000L), Probe.artifacts(spark)).aaEdges.toDF()
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${out.length} chars)")
    spark.stop()
  }
}
