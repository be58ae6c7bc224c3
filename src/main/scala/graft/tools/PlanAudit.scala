package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
> The audits below are EXPLAIN dumps of query-catalog plans and of
> hand-built single-round kernel shapes; they do not execute the kernels.
> The EXECUTED PageRank boundary-block plan is
> `plans/r06/kernel_pagerank_boundary_executed_after.txt`, dumped from
> inside `GraphOps.pageRank` by the `GRAFT_KERNEL_EXPLAIN=1` hook (CC, LP,
> HITS and SCC print their first round through the same hook). The
> round-6 before/after snapshots of the headline queries are the other
> files under `plans/r06/`; the changes behind them are logged in
> `OPTIMIZATION_r06.md`.
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

    // reproduce the kernel's execution conf: AQE off, no size-based
    // broadcasts (at scale neither side of the superstep join is broadcastable)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    audit("PageRank single superstep (dangling supernode + pre-sorted cached edges)",
      "Expect (kernel conf: AQE off, no auto-broadcast): the edge side is an InMemoryTableScan with NO per-superstep Exchange and NO Sort (cached pre-sorted partitions feed the SortMergeJoin directly — only the state side re-sorts); ONE Exchange for the contribution groupBy with partial_sum before it; NO broadcast of any chain-derived scalar — the dangling mass rides in the state as the sentinel supernode row (GraphOps.pageRank scaladoc).") {
      import spark.implicits._
      val Sent = Long.MinValue
      val eW = Seq((0L, 1L, 1.0), (1L, 2L, 0.5), (1L, 0L, 0.5),
          (2L, Sent, 1.0 / 3), (Sent, Sent, 0.85 / 3), (Sent, 0L, 0.85))
        .toDF("src", "dst", "w").withColumn("salt", lit(0))
        .repartition(4, $"src").sortWithinPartitions($"src").persist()
      eW.count()
      val allIds = Seq(0L, 1L, 2L, Sent).toDF("id")
        .repartition(4, $"id").sortWithinPartitions($"id").persist()
      allIds.count()
      val state = allIds.withColumn("x",
        when($"id" === Sent, lit(0.0)).otherwise(lit(1.0 / 3))).localCheckpoint(true)
      val agg = state.withColumnRenamed("id", "src").join(eW, Seq("src"))
        .select($"dst".as("id"), ($"x" * $"w").as("c"))
        .groupBy($"id").agg(sum($"c").as("c"))
      allIds.join(agg, Seq("id"), "left")
        .select($"id", when($"id" === Sent, coalesce($"c", lit(0.0)))
          .otherwise(lit(0.05) + lit(0.85) * coalesce($"c", lit(0.0))).as("x"))
    }

    audit("connected components: one large-star round",
      "Expect: every Exchange is hashpartitioning on src (vertex id) — never on a component label; partial_min before the exchange (map-side combine), so per-task work is bounded by vertex degree, not component size.") {
      import spark.implicits._
      val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)).toDF("src", "dst").localCheckpoint(true)
      val sym = e.filter($"src" =!= $"dst")
        .union(e.filter($"src" =!= $"dst").select($"dst".as("src"), $"src".as("dst")))
      val mins = sym.groupBy($"src").agg(least(min($"dst"), first($"src")).as("m"))
      sym.join(mins, Seq("src")).filter($"dst" > $"src")
        .select($"dst".as("src"), $"m".as("dst"))
    }
    audit("connected components: large-star round with an emergent hot root (salted arm)",
      "Expect: sym gains salt = pmod(hash(dst), nsalt) through a BroadcastHashJoin against the (tiny, per-round) hub table; the mins side replicates ONLY hub rows via explode(sequence); the star join keys (src, salt) so a giant root's join fan-out spreads over nsalt tasks; the min-agg itself stays keyed on src alone with partial_min (map-side combine already skew-safe). Mirrors GraphOps.largeStar's hubs arm.") {
      import spark.implicits._
      val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst").localCheckpoint(true)
      val sym = e.filter($"src" =!= $"dst")
        .union(e.filter($"src" =!= $"dst").select($"dst".as("src"), $"src".as("dst")))
      val mins = sym.groupBy($"src").agg(least(min($"dst"), first($"src")).as("m"))
      val hubs = Seq((0L, 4)).toDF("src", "nsalt") // vertex 0 = the emergent giant root
      val symS = sym.join(broadcast(hubs), Seq("src"), "left")
        .select($"src", $"dst", pmod(hash($"dst"), coalesce($"nsalt", lit(1))).as("salt"))
      val minsR = mins.join(broadcast(hubs), Seq("src"), "left")
        .select($"src", $"m", explode(sequence(lit(0), coalesce($"nsalt", lit(1)) - 1)).as("salt"))
      symS.join(minsR, Seq("src", "salt"))
        .filter($"dst" > $"src")
        .select($"dst".as("src"), $"m".as("dst"))
    }
    // restore the relational defaults (AQE + auto-broadcast) for the
    // query-catalog audits below
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

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

    audit("BFS single hop (shortestPaths round shape)",
      "Expect: the frontier reaches the edge table through a semi-join keyed " +
        "on src (the big side's fixed hash layout — at scale the frontier, the " +
        "small side, moves to the edges, whose exchange is the persisted one " +
        "paid once before the loop); the settled-distance anti-join keys on id. " +
        "No exchange keys on anything frontier-size-correlated.") {
      import spark.implicits._
      val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
        .repartition(4, col("src")).localCheckpoint(true)
      val settled = Seq((0L, 0)).toDF("id", "dist").localCheckpoint(true)
      e.join(settled.select($"id".as("src")), Seq("src"), "left_semi")
        .select($"dst".as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .withColumn("dist", lit(1))
    }

    audit("k-core single peel round (kCore round shape)",
      "Expect: one degree aggregation with partial_count before its exchange " +
        "(map-side combine — per-task work bounded by partition size, not by " +
        "any vertex's degree), then two semi-joins keyed on the endpoint ids. " +
        "The edge set only shrinks round over round, so this is the most " +
        "expensive round's plan.") {
      import spark.implicits._
      val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)).toDF("u", "v")
        .localCheckpoint(true)
      val deg = und.select($"u".as("x")).union(und.select($"v".as("x")))
        .groupBy($"x").agg(count(lit(1)).as("c"))
      val surv = deg.filter($"c" >= 3).select($"x")
      und.join(surv.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
    }

    audit("q63 composed quality filter (zero-shuffle scan)",
      "Expect: NO Exchange anywhere — token count and both repetition signals " +
        "are inlined into one Project over the documents scan (the composed " +
        "filter is a single embarrassingly-parallel pass; subexpression " +
        "elimination shares the signal expressions between `reason` and `keep`).") {
      graft.queries.Queries.queries("q63_quality_filter")(spark, sfDir)
    }

    audit("HITS half-step (a-step: h flows src->dst)",
      "Expect: the state (small side) joins the static src-partitioned edge " +
        "table, then ONE aggregation keyed on dst with partial_sum before the " +
        "exchange — per half-step cost is a vertex-state shuffle plus a " +
        "map-side-combined sum, never an edge re-shuffle (the edge exchange " +
        "is paid once before the loop, here represented by the checkpoint).") {
      import spark.implicits._
      val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
        .repartition(4, col("src")).localCheckpoint(true)
      val h = Seq((0L, 1.0), (1L, 1.0), (2L, 1.0)).toDF("id", "h").localCheckpoint(true)
      h.select($"id".as("src"), $"h").join(e, Seq("src"))
        .groupBy($"dst".as("id")).agg(sum($"h").as("s"))
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

    audit("random-walk single step (randomWalks level shape)",
      "Expect: the live-walk state reaches the degree table and the " +
        "positional adjacency through joins keyed on the CURRENT vertex id " +
        "(src) — the md5 step-choice is a pure projection between them; one " +
        "row out per live walk (hub fan-IN, no fan-out).") {
      import spark.implicits._
      val adj = Seq((0L, 1L, 0L), (0L, 2L, 1L), (1L, 2L, 0L)).toDF("src", "dst", "idx")
        .repartition(4, col("src")).localCheckpoint(true)
      val deg = Seq((0L, 2L), (1L, 1L)).toDF("src", "outdeg")
        .repartition(4, col("src")).localCheckpoint(true)
      val cur = Seq((0L, 0, 0L), (1L, 0, 1L)).toDF("seed", "walk", "vertex").localCheckpoint(true)
      cur.select($"seed", $"walk", $"vertex".as("src"))
        .join(deg, Seq("src"))
        .withColumn("idx", pmod(conv(substring(md5(concat($"seed".cast("string"), lit(":"),
          $"walk".cast("string"), lit(":1")).cast("binary")), 1, 15), 16, 10).cast("long"), $"outdeg"))
        .join(adj, Seq("src", "idx"))
        .select($"seed", $"walk", lit(1).as("step"), $"dst".as("vertex"))
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
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    audit("q24 ANN brute-force scoring (native codegen'd cosine)",
      "Expect (AQE off so codegen ids print): the corpus scan broadcast-joins the (tiny) query side and the Project computing cosine_similarity shows a [codegen id : N] annotation — the scoring kernel is the native Catalyst expression inside the generated join loop, NOT an aggregate/zip_with higher-order chain (those are CodegenFallback and would fence codegen around every scored row).") {
      graft.queries.Queries.queries("q24_ann_brute")(spark, sfDir)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    audit("resolve fan-out join with hub-key salting",
      "Expect: the hot-key set joins as BroadcastHashJoin on both inputs; the fan-out is a shuffle join keyed (dstPackageId, versionRange, salt) so one hub key spreads over SaltBuckets tasks; matches side exploded only for hot keys.") {
      import spark.implicits._
      val m = graft.queries.Queries.mined(spark, sfDir)
      graft.resolve.ResolveJob.run(spark, m.apEdges, m.artifacts).aaEdges.toDF()
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${out.length} chars)")
    spark.stop()
  }
}
