package graft.queries

import graft.gen.SyntheticRepoFiles
import graft.graph.GraphOps
import graft.mine.MineJob
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.resolve.ResolveJob
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * The engine's query catalog: one entry per operator family from
 * SURVEY.md §2 plus the training-data-pipeline extensions. Every SQL-
 * expressible query has a DuckDB oracle in [[oracleSql]] with IDENTICAL
 * column names and types (aggregates rounded/cast on both sides so
 * float-summation-order and HUGEINT-vs-BIGINT differences can't flip the
 * driver's hash compare). The mining pipeline and the graph-over-mined
 * queries are DuckDB-oracled too ([[minedPrelude]] re-derives the mined
 * tables from the dumped input corpus with DuckDB's JSON/regex functions);
 * Every query including the full resolve (q35) is hash-oracled: the five
 * resolve arms — fixed (q46/q47) plus all four ecosystem range grammars
 * (q53 nuget, q54 maven, q57 npm, q58 pypi) — each have SQL mirrors, and
 * q35's oracle is their DISTINCT union. The grammars additionally stay
 * pinned by ScalaTest golden vectors + the 1217-spec compiled-reference
 * differential.
 */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ----------------------------------------------------------- derived graph

  /** Deterministic pseudo-random digraph derived from lineitem — identical
    * arithmetic on the Spark and DuckDB sides (integer-exact). */
  /** Vertex-space modulus: large enough that the derived graph stays sparse
    * at bench scale (sf0.1: ~590k edges over <=50k vertices, avg degree ~24 —
    * wedge counts stay in the tens of millions, not billions). */
  private val VertexMod = 50000

  // Caches key on (applicationId, startTime) (stable, never reused, unlike identityHashCode)
  // and pair the value with its owning session so entries bound to a stopped
  // SparkContext are evicted instead of leaking or being served to a new
  // session after a hash collision.
  private val edgeCache = new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  def derivedEdges(spark: SparkSession, dir: String): DataFrame = {
    edgeCache.entrySet.removeIf(e => e.getValue._1.sparkContext.isStopped)
    edgeCache.computeIfAbsent(dir + "@" + spark.sparkContext.applicationId + "@" + spark.sparkContext.startTime, _ => {
      val li = t(spark, dir, "lineitem")
      (spark, li.select(((col("l_suppkey") * 7 + col("l_partkey")) % VertexMod).as("src"),
          ((col("l_partkey") * 13 + col("l_suppkey") * 3) % VertexMod).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .persist())
    })._2
  }

  val edgesSql: String =
    s"""SELECT DISTINCT (l_suppkey*7+l_partkey)%$VertexMod AS src, (l_partkey*13+l_suppkey*3)%$VertexMod AS dst
       |FROM lineitem WHERE (l_suppkey*7+l_partkey)%$VertexMod <> (l_partkey*13+l_suppkey*3)%$VertexMod""".stripMargin

  /** Unrolled fixed-iteration PageRank as ANSI SQL (no dangling
    * redistribution; d=0.85; 8 supersteps), for the DuckDB oracle. */
  def pageRankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT v.v AS v,
         |         CAST(0.15 AS DOUBLE)/(SELECT n FROM nn) +
         |         CAST(0.85 AS DOUBLE)*COALESCE(SUM(r.rank/d.outdeg), CAST(0 AS DOUBLE)) AS rank
         |  FROM verts v
         |  LEFT JOIN edges e ON e.dst = v.v
         |  LEFT JOIN r${i - 1} r ON r.v = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY v.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
       |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
       |r0 AS (SELECT v, CAST(1.0 AS DOUBLE)/(SELECT n FROM nn) AS rank FROM verts),
       |$steps
       |SELECT v AS id, ROUND(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  /** Peel rounds the q62 k-core oracle face unrolls. The Spark side runs
    * to FIXPOINT; the face matches iff the peel converges within this many
    * rounds at the verify scale. Measured: 3 rounds at sf0.01 (and the
    * GraphOpsSpec asserts <= this bound on its synthetic hub graph), so 6
    * is a 2x margin. */
  val KCoreFaceRounds = 6

  /** Unrolled k-core peeling as SQL: each round recomputes undirected
    * degrees and keeps only edges whose BOTH endpoints have degree >= k.
    * MATERIALIZED pins each round's edge set so DuckDB doesn't re-expand
    * the CTE chain combinatorially. */
  def kCoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT x, COUNT(*) AS c FROM (SELECT u AS x FROM e${i - 1} UNION ALL SELECT v AS x FROM e${i - 1}) ux GROUP BY x),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT x FROM d$i WHERE c >= $k) AND v IN (SELECT x FROM d$i WHERE c >= $k))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges),
       |$steps
       |SELECT x AS id, c AS core_degree FROM (
       |  SELECT x, COUNT(*) AS c FROM (SELECT u AS x FROM e$rounds UNION ALL SELECT v AS x FROM e$rounds) ux GROUP BY x) f
       |WHERE c >= $k""".stripMargin
  }

  /** Unrolled HITS power iteration as SQL: un-normalized a/h half-steps
    * (mirroring GraphOps.hits' linear-chain design), one L1 normalization
    * at the end, round 6. */
  def hitsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT v.v, COALESCE(SUM(h.h), CAST(0 AS DOUBLE)) AS a
         |  FROM verts v LEFT JOIN edges e ON e.dst = v.v LEFT JOIN h${i - 1} h ON h.v = e.src
         |  GROUP BY v.v),
         |h$i AS MATERIALIZED (
         |  SELECT v.v, COALESCE(SUM(a.a), CAST(0 AS DOUBLE)) AS h
         |  FROM verts v LEFT JOIN edges e ON e.src = v.v LEFT JOIN a$i a ON a.v = e.dst
         |  GROUP BY v.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
       |h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS h FROM verts),
       |$steps
       |SELECT a$iters.v AS id,
       |  ROUND(h$iters.h / (SELECT SUM(h) FROM h$iters), 6) AS hub,
       |  ROUND(a$iters.a / (SELECT SUM(a) FROM a$iters), 6) AS authority
       |FROM a$iters JOIN h$iters ON h$iters.v = a$iters.v""".stripMargin
  }

  /** Unrolled personalized PageRank (restart on the q60 seed set, no
    * dangling redistribution, d=0.85) as SQL. */
  def pprSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT pp.v AS v,
         |         CAST(0.15 AS DOUBLE)*pp.p +
         |         CAST(0.85 AS DOUBLE)*COALESCE(SUM(r.rank/d.outdeg), CAST(0 AS DOUBLE)) AS rank
         |  FROM p pp
         |  LEFT JOIN edges e ON e.dst = pp.v
         |  LEFT JOIN r${i - 1} r ON r.v = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY pp.v, pp.p)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
       |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
       |sn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts WHERE v % 97 = 0),
       |p AS (SELECT v, CASE WHEN v % 97 = 0 THEN CAST(1.0 AS DOUBLE)/(SELECT n FROM sn)
       |                     ELSE CAST(0.0 AS DOUBLE) END AS p FROM verts),
       |r0 AS (SELECT v, p AS rank FROM p),
       |$steps
       |SELECT v AS id, ROUND(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  /** Unrolled deterministic random walks as SQL: positional dst-sorted
    * adjacency + the md5 content-addressed step choice (the q52 idiom:
    * first 60 md5 hex bits as a BIGINT). Inner joins stop walks at
    * out-degree-0 vertices, mirroring the Spark loop's drain. */
  def randomWalkSql(walkLen: Int, walksPerVertex: Int): String = {
    val steps = (1 to walkLen).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT s.seed, s.walk, $i AS step, a.dst AS vertex
         |  FROM s${i - 1} s
         |  JOIN deg d ON d.src = s.vertex
         |  JOIN adj a ON a.src = s.vertex
         |   AND a.idx = CAST('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':$i'), 1, 15) AS BIGINT) % d.outdeg)""".stripMargin
    }.mkString(",\n")
    val union = (0 to walkLen).map(i => s"SELECT * FROM s$i").mkString("\nUNION ALL ")
    s"""WITH edges AS ($edgesSql),
       |adj AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM edges),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
       |s0 AS (SELECT v AS seed, CAST(w AS INT) AS walk, 0 AS step, v AS vertex
       |       FROM verts, UNNEST(range(0, $walksPerVertex)) AS t(w)),
       |$steps
       |$union""".stripMargin
  }

  /** Unrolled WEIGHTED PageRank (wt/sum(wt) transition, no dangling
    * redistribution, d=0.85) as SQL; weights are the q75 face's synthetic
    * (src*3+dst)%7+1. */
  def wPageRankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT v.v AS v,
         |         CAST(0.15 AS DOUBLE)/(SELECT n FROM nn) +
         |         CAST(0.85 AS DOUBLE)*COALESCE(SUM(r.rank * (e.wt / d.wsum)), CAST(0 AS DOUBLE)) AS rank
         |  FROM verts v
         |  LEFT JOIN edges e ON e.dst = v.v
         |  LEFT JOIN r${i - 1} r ON r.v = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY v.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges0 AS ($edgesSql),
       |edges AS (SELECT src, dst, CAST((src*3 + dst) % 7 + 1 AS DOUBLE) AS wt FROM edges0),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
       |deg AS (SELECT src, SUM(wt) AS wsum FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
       |r0 AS (SELECT v, CAST(1.0 AS DOUBLE)/(SELECT n FROM nn) AS rank FROM verts),
       |$steps
       |SELECT v AS id, ROUND(rank, 6) AS rank FROM r$iters""".stripMargin
  }

  /** Unrolled synchronous label propagation as SQL (ties: count desc, label asc). */
  def labelPropSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""m$i AS (SELECT e.dst AS v, l.label FROM edges_sym e JOIN l${i - 1} l ON l.v = e.src),
         |c$i AS (SELECT v, label, COUNT(*) AS cnt FROM m$i GROUP BY v, label),
         |w$i AS (SELECT v, label FROM (
         |          SELECT v, label, ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn FROM c$i) x
         |        WHERE rn = 1),
         |l$i AS (SELECT l.v, COALESCE(w.label, l.label) AS label
         |        FROM l${i - 1} l LEFT JOIN w$i w ON w.v = l.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges0 AS ($edgesSql),
       |edges_sym AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM edges0 UNION ALL SELECT dst AS src, src AS dst FROM edges0) u),
       |verts AS (SELECT DISTINCT src AS v FROM edges_sym),
       |l0 AS (SELECT v, v AS label FROM verts),
       |$steps
       |SELECT v AS id, label FROM l$iters""".stripMargin
  }

  // -------------------------------------------------------------- the catalog

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational coverage (SURVEY §2.2/2.4/2.6) ----
    "q01_agg" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),
    "q02_filter_project" -> ((s, d) => {
      // Per-row money rounding must be tie-free across engines: floor(x*100+0.5)/100
      // is the same IEEE op sequence in Spark and DuckDB (round() half-handling differs).
      val net = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5) / 100
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_partkey"), net.as("net"))
    }),
    "q03_join_agg" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer"); val n = t(s, d, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n_orders"))
    }),
    "q04_semi_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q05_anti_join" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q06_distinct_pairs" -> ((s, d) => {
      t(s, d, "lineitem").select(col("l_suppkey"), col("l_partkey")).distinct()
    }),
    "q07_topk" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("n_items").desc, col("l_partkey").asc)
        .limit(10)
    }),
    "q08_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"))
    }),
    "q09_event_compaction" -> ((s, d) => {
      // NuGet catalog fold (S4/A3): last-writer-wins per key, deterministic.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"), col("event_type").as("last_type"))
    }),
    "q10_offset_page" -> ((s, d) => {
      t(s, d, "orders").orderBy(col("o_orderkey")).offset(20).limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    }),
    "q11_merge_precedence" -> ((s, d) => {
      // Prototype-vs-mined reconciliation (J4): referenced keys get a stub
      // name unless a "mined" row exists.
      val refs = t(s, d, "orders").select(col("o_custkey").as("custkey")).distinct()
      val mined = t(s, d, "customer").select(col("c_custkey").as("custkey"), col("c_name"))
      refs.join(mined, Seq("custkey"), "left")
        .select(col("custkey"), coalesce(col("c_name"), lit("Prototype Package")).as("name"))
    }),
    "q12_version_compare" -> ((s, d) => {
      // The reference's sortable version key (Model/Artifact.java:63-84)
      // over synthesized numeric version strings, computed by the native
      // codegen'd Catalyst expression (graft.functions.VersionCompareKey);
      // the DuckDB oracle mirrors it with lpad (identical for numeric
      // components <= 5 digits).
      val p = t(s, d, "part")
      val version = concat(col("p_size").cast("string"), lit("."),
        (col("p_partkey") % 10).cast("string"), lit("."), (col("p_partkey") % 7).cast("string"))
      p.select(col("p_partkey"), version.as("version"),
        graft.functions.VersionCompareKey.of(version).as("version_compare"))
    }),

    // ---- link-graph kernels over the derived edge table (SURVEY §2.9) ----
    "q13_degrees" -> ((s, d) => {
      GraphOps.degrees(derivedEdges(s, d))
        .select(col("id"), col("outDegree").as("outdegree"), col("inDegree").as("indegree"))
    }),
    "q14_pagerank" -> ((s, d) => {
      GraphOps.pageRank(s, derivedEdges(s, d), iterations = 8, redistributeDangling = false)
        .ranks.select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    "q15_connected_components" -> ((s, d) => {
      GraphOps.connectedComponents(s, derivedEdges(s, d))
    }),
    "q16_triangle_count" -> ((s, d) => {
      val (total, _) = GraphOps.triangleCount(s, derivedEdges(s, d))
      val spark = s; import spark.implicits._
      Seq(total).toDF("triangles")
    }),
    "q17_triangles_per_vertex" -> ((s, d) => {
      // lazy per-vertex path: no eager total-count job (q16 pays that one)
      GraphOps.trianglesPerVertex(s, derivedEdges(s, d))
    }),
    "q18_label_propagation" -> ((s, d) => {
      GraphOps.labelPropagation(s, derivedEdges(s, d), iterations = 3)
    }),
    "q26_pagerank_dangling" -> ((s, d) => {
      // The flagship dangling-supernode kernel path (GraphOps scaladoc) under
      // the DuckDB oracle: the unrolled SQL computes the STANDARD per-
      // superstep dangling redistribution, so a hash match certifies the
      // supernode lumping construction, not just the no-dangling chain (q14).
      GraphOps.pageRank(s, derivedEdges(s, d), iterations = 8, redistributeDangling = true)
        .ranks.select(col("id"), round(col("rank"), 6).as("rank"))
    }),

    // ---- text analytics over documents (pipeline extensions) ----
    "q19_dedup_exact" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
    }),
    "q20_token_count" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"), TextOps.tokenCountEst(col("text")).as("token_count"),
        TextOps.tokenCountBpeIsh(col("text")).as("bpe_tokens"))
    }),
    "q21_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"), TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.meanWordLen(col("text")).as("mean_word_len"),
        TextOps.qualityScore(col("text")).as("quality"))
    }),
    "q22_lang_id" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"), TextOps.langId(col("text")).as("lang_id"))
    }),
    "q23_embed_norms" -> ((s, d) => {
      Similarity.norms(t(s, d, "embeddings"))
    }),
    "q25_word_jaccard" -> ((s, d) => {
      Dedup.wordJaccardPairs(t(s, d, "documents"), "doc_id", "text", maxId = 30)
    }),
    "q24_ann_brute" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 10)
        .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
    }),
    "q27_ann_ivf" -> ((s, d) => {
      // IVF in its exhaustive-probe configuration (nprobe = nlist): every
      // inverted list is searched, so the result is EXACT top-k and the
      // brute-force DuckDB oracle applies — certifying the quantize/probe/
      // re-rank machinery end-to-end. The nprobe << nlist scale path is
      // recall-tested in OpsSpec.
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(s, e.filter(col("vec_id") >= 5 && col("vec_id") < 10), e,
          k = 10, nlist = 8, nprobe = 8)
        .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
    }),

    "q49_ann_ivf_indexed" -> ((s, d) => {
      // The PERSISTED serving path: build the IVF index on disk (k-means fit
      // + partitioned inverted lists, a once-per-corpus cost), then serve
      // top-k from it. Probe-all face (nprobe = nlist) is exact, so the
      // brute-force oracle certifies the whole write -> read -> probe ->
      // re-rank round trip; partial-probe serving is tested in OpsSpec.
      val e = t(s, d, "embeddings")
      // keyed by (dataset basename, application id): concurrent JVMs — or
      // two datasets sharing a basename — never overwrite each other's
      // index; a JVM shutdown hook removes it so repeated runs on a shared
      // box don't accumulate orphaned index directories in tmp
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-index-" +
        s"${new java.io.File(d).getName}-${s.sparkContext.applicationId}"
      registerTmpCleanup(idx)
      Similarity.writeIvfIndex(s, e, idx, nlist = 8)
      Similarity.ivfTopKIndexed(s, e.filter(col("vec_id") >= 10 && col("vec_id") < 15), idx,
          k = 10, nprobe = 8)
        .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
    }),

    // ---- mining + resolution + graph over mined edges (q30-q33/q36/q37
    //      DuckDB-oracled via minedPrelude; q34/q35 ScalaTest-oracled) ----
    "q30_mine_packages" -> ((s, d) => mined(s, d).packages.toDF()
      .select(col("id"), col("name"), col("repo"), col("isPrototype")).orderBy("id")),
    "q31_mine_artifacts" -> ((s, d) => mined(s, d).artifacts.toDF()
      .select(col("id"), col("packageId"), col("version"), col("versionCompare"))),
    "q32_mine_ap_edges" -> ((s, d) => mined(s, d).apEdges.toDF()
      .select(col("srcArtifactId"), col("dstPackageId"), col("versionRange"), col("resolved"))),
    "q33_mine_pp_edges" -> ((s, d) => mined(s, d).ppEdges.toDF()),
    "q34_quarantine" -> ((s, d) => mined(s, d).quarantine.toDF()
      // per-manifest-KIND malformed counts: SQL-derivable (the oracle
      // recomputes the exact malformed predicates per kind), while exception
      // CLASS detail stays sbt/CLI-only — Jackson's class depends on where a
      // truncation lands and is not predictable in SQL (memory: round-3)
      .select(when(col("path") === "package.json", lit("npm"))
        .when(col("path") === "pom.xml", lit("maven"))
        .when(col("path").startsWith("pypi/"), lit("pypi"))
        .otherwise(lit("nuget")).as("kind"))
      .groupBy(col("kind")).agg(count(lit(1)).as("n"))),
    "q35_resolve_aa" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, m.apEdges, m.artifacts).aaEdges.toDF()
    }),
    // Fixed-spec face of the resolve join (VERDICT r3 #4): the engine side
    // runs the REAL library classification (isValid && !isRange per
    // ecosystem) and the full ResolveJob machinery (fan-out join, hub
    // salting, MERGE dedup, resolved flags); the oracle mirrors
    // normalizeFixed + fixedRangeEquals (VersionRangeResolver.java:169-198)
    // in SQL. The range grammars stay differential-tested (1217-spec battery).
    "q46_resolve_fixed" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, fixedSpecEdges(s, m), m.artifacts).aaEdges.toDF()
    }),
    "q47_resolve_fixed_flags" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, fixedSpecEdges(s, m), m.artifacts).apEdges.toDF()
        .select(col("srcArtifactId"), col("dstPackageId"), col("versionRange"), col("resolved"))
    }),
    // Range-grammar faces of the resolve join (VERDICT r4 #1): the engine
    // side runs the REAL library range classification + parse + containment
    // through the full ResolveJob machinery, restricted to one ecosystem's
    // RANGE-classified specs; the oracle recomputes the interval semantics
    // in SQL (nugetRangeSql / mavenRangeSql — exhaustively cross-checked
    // against the resolvers). With q46/q47 (fixed arm) these leave only the
    // NPM/PyPi operator grammars as q35's rows-only remainder.
    "q53_resolve_nuget_ranges" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, rangeSpecEdges(s, m, "nuget"), m.artifacts).aaEdges.toDF()
    }),
    "q54_resolve_maven_ranges" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, rangeSpecEdges(s, m, "maven"), m.artifacts).aaEdges.toDF()
    }),
    "q57_resolve_npm_ranges" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, rangeSpecEdges(s, m, "npm"), m.artifacts).aaEdges.toDF()
    }),
    "q58_resolve_pypi_ranges" -> ((s, d) => {
      val m = mined(s, d)
      ResolveJob.run(s, rangeSpecEdges(s, m, "pypi"), m.artifacts).aaEdges.toDF()
    }),
    "q36_mined_pagerank" -> ((s, d) => minedPageRank(s, d, 10, 20)),
    "q37_mined_components" -> ((s, d) => {
      val (e, dict) = indexedPpEdges(s, d)
      GraphOps.connectedComponents(s, e)
        .join(dict, Seq("id")).groupBy(col("component")).agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("component").asc).limit(20)
    }),

    // ---- near-dup / similarity / multimodal (rows-only checks) ----
    "q38_minhash_neardup" -> ((s, d) => {
      // Exhaustive (all-pairs) configuration: the full shingle->jaccard->
      // threshold verify runs over every pair, so the DuckDB raw-gram oracle
      // certifies it end-to-end (incl. planted-dup recovery); the banded-LSH
      // candidate path is pinned by the planted-dup + bucket-cap tests.
      Dedup.minhashNearDups(s, docsWithPlantedDups(s, d), "doc_id", "text",
        threshold = 0.5, exhaustive = true)
    }),
    "q48_dedup_clusters" -> ((s, d) => {
      // Cluster collapse over the exhaustive near-dup face: pairs ->
      // connected components -> min-id canonical representative per doc.
      // The oracle recomputes pairs (raw-gram Jaccard) and the transitive
      // closure with a recursive CTE, certifying the composed
      // Dedup+GraphOps pipeline end-to-end.
      Dedup.dedupClusters(s, docsWithPlantedDups(s, d), "doc_id", "text",
        threshold = 0.5, exhaustive = true)
    }),
    "q50_decontaminate" -> ((s, d) => {
      // Eval-set decontamination at its exhaustive (cross-product) face:
      // the eval slice copies docs < 15 under shifted ids, so every eval
      // doc must flag its source (jaccard 1) plus any near-matches — the
      // oracle recomputes the cross-corpus raw-gram Jaccard join.
      val docs = t(s, d, "documents")
      val evalSet = docs.filter(col("doc_id") < 15)
        .select((col("doc_id") + 5000000).as("eval_id"), col("text"))
      Dedup.decontaminate(s, docs, "doc_id", "text", evalSet, "eval_id", "text",
        threshold = 0.5, exhaustive = true)
    }),
    "q56_incremental_neardup" -> ((s, d) => {
      // PERSISTED near-dup index serving path (the dedup analogue of q49):
      // band the corpus once to disk, then an arrival batch band-joins the
      // store. The exact-dup threshold (0.999) is the provably-LSH-complete
      // configuration at this corpus' gram-set sizes: >=0.999 Jaccard means
      // identical shingle sets -> identical signatures -> collisions in
      // EVERY band, so the store provably surfaces every qualifying pair
      // and the exhaustive DuckDB oracle certifies the whole
      // write -> read -> band-join -> verify round trip. The general
      // near-dup-threshold path is pinned by OpsSpec's full-rebuild
      // identity (incremental == full minus old-only pairs).
      val docs = t(s, d, "documents")
      val arrivals = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-minhash-index-" +
        s"${new java.io.File(d).getName}-${s.sparkContext.applicationId}"
      registerTmpCleanup(idx)
      Dedup.writeMinhashIndex(s, docs, "doc_id", "text", idx)
      Dedup.incrementalNearDups(s, arrivals, "doc_id", "text", docs, "doc_id", "text", idx,
        threshold = 0.999)
    }),
    "q39_simhash_neardup" -> ((s, d) => {
      // The REAL banded LSH path (not an exhaustive face): the md5-derived
      // token hash makes signature, band keys and Hamming verify all
      // DuckDB-recomputable, so the oracle certifies the whole pipeline.
      Dedup.simhashNearDups(s, docsWithPlantedDups(s, d), "doc_id", "text", maxHamming = 3)
    }),
    "q40_embedding_neardup" -> ((s, d) => {
      // Exhaustive (all-pairs) configuration: provably complete, so the
      // DuckDB all-pairs oracle certifies the verify semantics and the
      // planted-duplicate recovery; the hyperplane-LSH bucketed path is
      // pinned by the planted-vector + bucket-cap tests in OpsSpec.
      val e = t(s, d, "embeddings")
      val planted = e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding"), col("label"))
        .filter(col("vec_id") < 1000020)
      Dedup.embeddingNearDups(s, e.unionByName(planted), "vec_id", "embedding",
        threshold = 0.999, exhaustive = true)
    }),
    "q41_ann_lsh" -> ((s, d) => {
      // LSH in its probe-all configuration (every 2^planes bucket searched):
      // provably exact, so the brute-force DuckDB oracle certifies the
      // signature/bucket-join/re-rank machinery end-to-end. The 1-bit-flip
      // approximate probing is recall-tested in OpsSpec.
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(s, e.filter(col("vec_id") < 5), e, k = 10, planes = 4, probeAll = true)
        .select(col("query_id"), col("rank").cast("int").as("rank"), col("neighbor_id"))
    }),
    "q42_multimodal_features" -> ((s, d) => {
      // Every projected column comes from an ACTUAL codec decode (ImageIO
      // PNG, AudioSystem WAV, ImageIO animated GIF), while the synthetic
      // encode rules make each a pure function of doc_id — so the DuckDB
      // oracle certifies all three encode→decode round-trips end-to-end.
      // decodedBytes / histograms (container sizes, pixel/sample features)
      // stay sbt-tested: compressed sizes aren't SQL arithmetic.
      val media = Multimodal.syntheticMedia(s, t(s, d, "documents"))
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("frames"),
          col("decodedWidth"), col("decodedHeight"), col("sampleRateHz"))
    }),

    // ---- near-dup verify stages, re-expressed hash-free so DuckDB can
    //      oracle the machinery end-to-end (VERDICT r1 #5) ----
    "q43_shingle_jaccard" -> ((s, d) =>
      Dedup.charShingleJaccardPairs(t(s, d, "documents"), "doc_id", "text", maxId = 40)),
    "q44_signbit_hamming" -> ((s, d) =>
      Dedup.signBitHammingCandidates(t(s, d, "embeddings"), "vec_id", "embedding")),
    "q45_winnow_fingerprint" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(TextOps.winnowGrams(col("text"))).as("fp"))),
    "q51_vocabulary" -> ((s, d) =>
      // corpus token-frequency table (wordcount-with-combiner shape),
      // frequency-filtered at 3 occurrences
      TextOps.vocabulary(t(s, d, "documents"), "text", minCount = 3L)),
    "q52_stratified_sample" -> ((s, d) =>
      // content-addressed per-language sampling: reproducible on any engine
      // (the oracle recomputes the exact md5-bucket predicate)
      TextOps.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 1.0), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"))),
    "q55_bpe_pairs" -> ((s, d) =>
      // BPE training iteration 1: frequency-weighted adjacent-char-pair
      // counts over the distinct-word table — the merge loop's heavy
      // computation under the driver hash (rule selection + rewrite stay
      // sbt-oracled against a naive in-memory trainer)
      TextOps.bpePairCounts(TextOps.bpeWordTable(t(s, d, "documents"), "text"))
        .filter(col("cnt") >= 5)),
    "q59_repetition_signals" -> ((s, d) =>
      // Gopher-style repetition quality filter signals; per-row HOF scan
      TextOps.repetitionSignals(t(s, d, "documents"), "doc_id", "text")),

    // ---- round-5 graph + pipeline widening ----
    "q60_shortest_paths" -> ((s, d) => {
      // bounded-hop BFS from a deterministic seed set (id % 97 == 0) along
      // the directed derived edges; oracle is a recursive CTE bounded by
      // the same hop cap, so the frontier expansion itself is hash-checked
      val e = derivedEdges(s, d)
      val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
      GraphOps.shortestPaths(s, e, verts.filter(col("id") % 97 === 0), maxHops = 3)
    }),
    "q61_clustering_coefficient" -> ((s, d) =>
      GraphOps.clusteringCoefficient(s, derivedEdges(s, d))
        .select(col("id"), col("degree"), col("triangles"), round(col("lcc"), 6).as("lcc"))),
    "q62_kcore" -> ((s, d) =>
      // exact fixpoint on the Spark side; the oracle unrolls KCoreFaceRounds
      // peel rounds (fixpoint at sf0.01 is 3 — margin asserted in sbt)
      GraphOps.kCore(s, derivedEdges(s, d), k = 3)),
    "q63_quality_filter" -> ((s, d) =>
      TextOps.qualityFilter(t(s, d, "documents"), "doc_id", "text")),
    "q64_hits" -> ((s, d) =>
      GraphOps.hits(s, derivedEdges(s, d), iterations = 8)
        .select(col("id"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))),
    "q65_personalized_pagerank" -> ((s, d) => {
      // random-walk-with-restart from the q60 seed set (id % 97 == 0),
      // through the flagship salted/checkpointed kernel's restart arm
      val e = derivedEdges(s, d)
      val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
      GraphOps.pageRank(s, e, iterations = 8, redistributeDangling = false,
          restart = Some(verts.filter(col("id") % 97 === 0)))
        .ranks.select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    "q66_pack_sequences" -> ((s, d) =>
      TextOps.packSequences(t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 128, shards = 8)),
    "q67_tfidf" -> ((s, d) =>
      TextOps.tfIdf(t(s, d, "documents"), "doc_id", "text", minDf = 2)),
    "q68_perplexity" -> ((s, d) =>
      TextOps.unigramLogLoss(t(s, d, "documents"), "doc_id", "text")),
    "q69_chunk_text" -> ((s, d) =>
      TextOps.chunkText(t(s, d, "documents"), "doc_id", "text",
        windowTokens = 32, strideTokens = 16)),
    "q70_random_walks" -> ((s, d) =>
      // content-addressed DeepWalk corpus: every step choice is
      // md5(seed:walk:step) mod outdeg — DuckDB recomputes the walks bit
      // for bit, certifying the traversal itself under the driver hash
      GraphOps.randomWalks(s, derivedEdges(s, d), walkLen = 3, walksPerVertex = 2)),
    "q71_node_similarity" -> ((s, d) =>
      GraphOps.nodeSimilarity(s, derivedEdges(s, d), minIntersection = 2)
        .select(col("u"), col("v"), col("common"), round(col("jaccard"), 6).as("jaccard"))),
    "q72_redact_pii" -> ((s, d) => {
      // the corpus carries no PII, so the face plants deterministic
      // doc_id-derived email/phone/IP tokens and certifies the scrub +
      // counts end-to-end
      val docs = t(s, d, "documents")
      val enriched = docs.select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 (555) 01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")).as("text"))
      TextOps.redactPii(enriched, "doc_id", "text")
    }),
    "q73_scc" -> ((s, d) =>
      // cycle detection for dependency graphs: full-graph SCC, min-member
      // canonical labels; oracle is the mutual-reachability closure
      GraphOps.stronglyConnectedComponents(s, derivedEdges(s, d))),
    "q74_cooccurrence" -> ((s, d) =>
      // co-purchase graph construction from the order x part fact table
      GraphOps.coOccurrenceProjection(s, t(s, d, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2)),
    "q75_weighted_pagerank" -> ((s, d) => {
      // weighted transition probabilities (wt / sum(wt) per src) through
      // the flagship kernel; deterministic synthetic weights 1..7
      val e = derivedEdges(s, d).select(col("src"), col("dst"),
        ((col("src") * 3 + col("dst")) % 7 + 1).cast("double").as("wt"))
      GraphOps.pageRank(s, e, iterations = 8, redistributeDangling = false,
          weightCol = Some("wt"))
        .ranks.select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    "q76_degree_assortativity" -> ((s, d) => {
      // Pearson correlation of (out-degree(src), in-degree(dst)) over
      // directed edges — the classic link-structure mixing statistic
      val e = derivedEdges(s, d)
      val out = e.groupBy(col("src")).agg(count(lit(1)).as("dout"))
      val in = e.groupBy(col("dst")).agg(count(lit(1)).as("din"))
      val pairs = e.join(out, Seq("src")).join(in, Seq("dst"))
      // corr divides by both degree columns' deviations, which ANSI mode
      // rejects when a column is constant; the statistic (and DuckDB) is
      // NULL there, so such a column feeds corr no pairs at all
      val varies = pairs.agg(min(col("dout")) < max(col("dout")) &&
        min(col("din")) < max(col("din"))).scalar()
      pairs.agg(round(corr(when(varies, col("dout")), col("din")), 6).as("assortativity"),
        count(lit(1)).as("n_edges"))
    }),
    "q77_reciprocity" -> ((s, d) => {
      // fraction of directed edges whose reverse edge also exists.
      // ONE action (VERDICT r5 #8): the reversed table is key-unique (the
      // edge table is distinct), so a left join marks mutual edges without
      // row multiplication and one aggregate yields both counts — the
      // former semi-join count + total count pair cost two driver actions
      // for a 1-row report.
      val e = derivedEdges(s, d)
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
        .withColumn("m", lit(1))
      val row = e.join(rev, Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("total"), count(col("m")).as("mutual")).first()
      val (total, mutual) = (row.getLong(0), row.getLong(1))
      val spark = s; import spark.implicits._
      Seq((mutual, total,
        math.floor(mutual.toDouble / total * 1e6 + 0.5) / 1e6))
        .toDF("mutual_edges", "total_edges", "reciprocity")
    }),
    "q78_corpus_stats" -> ((s, d) =>
      TextOps.corpusStats(t(s, d, "documents"), "text"))
  )

  // ------------------------------------------------ shared mined-table cache

  private val minedCache = new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, graft.mine.Mined)]()

  /** Mine the sf-scaled synthetic repo-file table once per (session, dir). */
  def mined(spark: SparkSession, dir: String): graft.mine.Mined = {
    minedCache.entrySet.removeIf(e => e.getValue._1.sparkContext.isStopped)
    minedCache.computeIfAbsent(dir + "@" + spark.sparkContext.applicationId + "@" + spark.sparkContext.startTime, _ => {
      val cfg = SyntheticRepoFiles.configForSf(SyntheticRepoFiles.sfOfDir(dir))
      val m = MineJob.run(spark, SyntheticRepoFiles.generate(spark, cfg))
      // the other tables are cached by MineJob already; all of them stay
      // for the session
      (spark, m.copy(packages = m.packages.persist(), quarantine = m.quarantine.persist())(() => m.release()))
    })._2
  }

  /** Per-session counter of specs the resolver THREW on during q46/q47
    * classification (task retries can overcount, so it is an upper bound —
    * but 0 means 0). Without it, a resolver throw on a corpus-reachable spec
    * would silently shrink the fixed-spec faces' coverage (the catch-all
    * maps a throw to "excluded", which both sides of the oracle agree on —
    * correct, but invisible); the capBuckets logged-drop pattern applied to
    * classification. */
  private val throwAccums =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, org.apache.spark.util.LongAccumulator)]()

  def classifierThrowCount(spark: SparkSession): org.apache.spark.util.LongAccumulator = {
    throwAccums.entrySet.removeIf(e => e.getValue._1.sparkContext.isStopped)
    throwAccums.computeIfAbsent(
      spark.sparkContext.applicationId + "@" + spark.sparkContext.startTime,
      _ => (spark, spark.sparkContext.longAccumulator("graft.fixedSpecClassifierThrows")))._2
  }

  /** AP edges of one ecosystem whose spec the real resolver classifies as a
    * RANGE (valid && range) — the q53/q54 faces' edge sets. Same throw
    * accounting as [[fixedSpecEdges]]. */
  private def rangeSpecEdges(spark: SparkSession, m: graft.mine.Mined, repoName: String) = {
    import graft.versionrange.Resolvers
    val acc = classifierThrowCount(spark)
    m.apEdges.filter { e =>
      e.repo == repoName && (try {
        val r = Resolvers.forRepo(e.repo)
        r.isValid(e.versionRange) && r.isRange(e.versionRange)
      } catch { case _: Exception => acc.add(1L); false })
    }
  }

  /** AP edges whose spec the ecosystem's resolver classifies as a FIXED
    * version reference (valid && !range) — q46/q47's face. The
    * classification is the real library call, so a divergence between it and
    * the oracle's SQL mirror fails the driver's hash compare. A classifier
    * THROW excludes the edge (both engine and oracle drop pathological
    * specs) but is COUNTED via [[classifierThrowCount]] and logged, so a
    * throw on a corpus-reachable spec can't silently narrow the face. */
  private def fixedSpecEdges(spark: SparkSession, m: graft.mine.Mined) = {
    import graft.versionrange.Resolvers
    val acc = classifierThrowCount(spark)
    val filtered = m.apEdges.filter { e =>
      try {
        val r = Resolvers.forRepo(e.repo)
        r.isValid(e.versionRange) && !r.isRange(e.versionRange)
      } catch { case _: Exception => acc.add(1L); false }
    }
    if (acc.value > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"fixedSpecEdges: resolver classification threw on ${acc.value} edges so far " +
          "(excluded from the fixed-spec faces; see classifierThrowCount)")
    filtered
  }

  /** Recursive-delete shutdown hook for per-application tmp artifacts
    * (registered once per path). */
  private val cleanupRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerTmpCleanup(path: String): Unit =
    if (cleanupRegistered.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(path))
      }))

  private val indexedCache = new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, (DataFrame, DataFrame))]()

  /** Dense-id edge table + dictionary of the mined PP graph, built once per
    * (session, dir) — q36, q37 and Bench's north-rule section all consume
    * the same indexed graph, so the sort + zipWithIndex dictionary pass
    * runs once, not per query. */
  def indexedPpEdges(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    indexedCache.entrySet.removeIf(e => e.getValue._1.sparkContext.isStopped)
    indexedCache.computeIfAbsent(dir + "@" + spark.sparkContext.applicationId + "@" + spark.sparkContext.startTime, _ => {
      val m = mined(spark, dir)
      val (e, dict) = GraphOps.indexEdges(spark, m.ppEdges.toDF(), "srcPackageId", "dstPackageId")
      // eager localCheckpoint, not persist: the consumers (q36/q37, the
      // north-rule PageRank repeats) re-analyze this frame's logical plan on
      // every DataFrame op, and with persist that plan is the whole mining
      // pipeline (generate → parse → dedup → index joins) — measured as
      // hundreds of ms of driver time per kernel superstep. The checkpoint
      // truncates it to a LogicalRDD leaf (guide §5).
      (spark, (e.localCheckpoint(true), dict.localCheckpoint(true)))
    })._2
  }

  /** Flagship: PageRank over the mined PP package graph, top-k by rank. */
  def minedPageRank(spark: SparkSession, dir: String, iters: Int, topK: Int): DataFrame = {
    val (e, dict) = indexedPpEdges(spark, dir)
    val pr = GraphOps.pageRank(spark, e, iterations = iters, redistributeDangling = true)
    pr.ranks.join(dict, Seq("id"))
      .select(col("vid").as("package_id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("package_id").asc)
      .limit(topK)
  }

  private def docsWithPlantedDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val dups = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    docs.unionByName(dups)
  }

  // ------------------------------------------ mined-pipeline DuckDB oracle

  /**
   * DuckDB mirror of the full mining pipeline (MineJob + ManifestParser over
   * all four ecosystems) so q30-q33/q36/q37 get real hash rows from the
   * driver's oracle. `__AUX_REPO_FILES__` is substituted by [[graft.Verify]]
   * with the dumped input-table parquet path (the generator is deterministic,
   * so the dump IS the table the queries mined).
   *
   * Fidelity scope: the SQL replicates the corpus-REACHABLE parse semantics
   * bit-for-bit (JSON registry docs via json_keys/json_extract with quoted
   * paths; the reference's requires_dist split quirk via the same delimiter
   * regex; the rigid generated pom.xml layout via first-match regexp with
   * `${pom.version}`/`${pom.currentVersion}` substitution; truncated
   * manifests excluded by json_valid / missing `</project>` exactly where
   * Jackson/scala-xml throw). Quirk branches the generator never emits —
   * python_version double-add, `${pom.groupId}` substitution, parent-pom
   * fallback, plain package.json shape, gradle/requirements files — are
   * pinned by ManifestParserSpec fixtures instead.
   */
  private val minedPrelude: String = """WITH RECURSIVE rf AS (SELECT * FROM read_parquet('__AUX_REPO_FILES__/*.parquet')),
npm_doc AS (
  SELECT content FROM rf WHERE path = 'package.json' AND json_valid(content)),
npm_pkg AS (
  SELECT regexp_replace(json_extract_string(content, '$.name'), '["''|()]', '', 'g') AS name, content FROM npm_doc),
npm_ver AS (
  SELECT p.name, tv.version, json_extract(p.content, '$.versions."' || tv.version || '"') AS vnode
  FROM npm_pkg p, unnest(coalesce(json_keys(p.content, '$.versions'), [])) AS tv(version)),
npm_dep AS (
  SELECT v.name, v.version, tk.dep_name,
         json_extract_string(v.vnode, '$.dependencies."' || tk.dep_name || '"') AS rng
  FROM npm_ver v, unnest(coalesce(json_keys(v.vnode, '$.dependencies'), [])) AS tk(dep_name)
  UNION ALL
  SELECT v.name, v.version, tk.dep_name,
         json_extract_string(v.vnode, '$.devDependencies."' || tk.dep_name || '"')
  FROM npm_ver v, unnest(coalesce(json_keys(v.vnode, '$.devDependencies'), [])) AS tk(dep_name)),
pypi_doc AS (
  SELECT content FROM rf WHERE path LIKE 'pypi/%.json' AND json_valid(content)),
pypi_pkg AS (
  SELECT regexp_replace(json_extract_string(content, '$.info.name'), '["''|()]', '', 'g') AS name, content FROM pypi_doc),
pypi_req AS (
  SELECT p.name, regexp_split_to_array(tr.line, ';|\(|=|<|>|:') AS parts
  FROM pypi_pkg p,
       unnest(coalesce(CAST(json_extract(p.content, '$.info.requires_dist') AS VARCHAR[]), [])) AS tr(line)),
pypi_dep AS (
  SELECT name, replace(parts[1], ' ', '') AS dep_name,
         CASE WHEN len(parts) >= 2 AND NOT contains(parts[2], ' extra == ')
              THEN string_split(parts[2], ')')[1] ELSE '' END AS rng
  FROM pypi_req),
pypi_rel AS (
  SELECT p.name, tv.version
  FROM pypi_pkg p, unnest(coalesce(json_keys(p.content, '$.releases'), [])) AS tv(version)),
nuget_doc AS MATERIALIZED (
  -- MATERIALIZED: stops DuckDB inlining this CTE into consumers, where the
  -- optimizer can reorder json_extract ahead of the json_valid guard and
  -- crash on quarantined malformed content (bit q35/q57 when the range-arm
  -- CTE chains grew; same class as the round-3 json_keys finding)
  SELECT content FROM rf WHERE path LIKE 'nuget/%.json' AND json_valid(content)),
nuget_art AS (
  SELECT json_extract_string(content, '$.id') AS name,
         json_extract_string(content, '$.version') AS version, content FROM nuget_doc),
nuget_dep AS (
  SELECT a.name, a.version,
         json_extract_string(td.dep, '$.id') AS dep_name,
         json_extract_string(td.dep, '$.range') AS rng
  FROM nuget_art a,
       unnest(coalesce(CAST(json_extract(a.content, '$.dependencyGroups') AS JSON[]), [])) AS tg(grp),
       unnest(coalesce(CAST(json_extract(tg.grp, '$.dependencies') AS JSON[]), [])) AS td(dep)
  WHERE json_extract_string(td.dep, '$."@type"') = 'PackageDependency'),
mvn_doc AS (
  SELECT content FROM rf WHERE path = 'pom.xml' AND contains(content, '</project>')),
mvn_art AS (
  SELECT regexp_extract(content, '<groupId>([^<]*)</groupId>', 1) || ':' ||
         regexp_extract(content, '<artifactId>([^<]*)</artifactId>', 1) AS name,
         regexp_extract(content, '<version>([^<]*)</version>', 1) AS version,
         content
  FROM mvn_doc),
mvn_dep AS (
  SELECT name, version,
         regexp_extract(dep, '<groupId>([^<]*)</groupId>', 1) || ':' ||
         regexp_extract(dep, '<artifactId>([^<]*)</artifactId>', 1) AS dep_name,
         CASE WHEN regexp_extract(dep, '<version>([^<]*)</version>', 1)
                   IN ('${pom.version}', '${pom.currentVersion}') AND version <> ''
              THEN version
              ELSE regexp_extract(dep, '<version>([^<]*)</version>', 1) END AS rng
  FROM (SELECT name, version, unnest(regexp_extract_all(content, '<dependency>.*?</dependency>')) AS dep
        FROM mvn_art)),
ap_all AS (
  SELECT 'npm:' || name || ':' || version AS srcArtifactId, 'npm:' || dep_name AS dstPackageId,
         'npm' AS repo, rng AS versionRange FROM npm_dep
  UNION ALL
  SELECT 'pypi:' || a.name || ':' || a.version, 'pypi:' || d.dep_name, 'pypi', d.rng
  FROM pypi_rel a JOIN pypi_dep d ON a.name = d.name
  UNION ALL
  SELECT 'maven:' || name || ':' || version, 'maven:' || dep_name, 'maven', rng FROM mvn_dep
  UNION ALL
  SELECT 'nuget:' || name || ':' || version, 'nuget:' || dep_name, 'nuget', rng FROM nuget_dep),
pkg_mined AS (
  SELECT DISTINCT 'npm:' || name AS id, name, 'npm' AS repo FROM npm_pkg
  UNION ALL SELECT DISTINCT 'pypi:' || name, name, 'pypi' FROM pypi_pkg
  UNION ALL SELECT DISTINCT 'maven:' || name, name, 'maven' FROM mvn_art
  UNION ALL SELECT DISTINCT 'nuget:' || name, name, 'nuget' FROM nuget_art),
pkg_proto AS (
  SELECT DISTINCT e.dstPackageId AS id, 'Prototype Package' AS name, e.repo
  FROM ap_all e WHERE e.dstPackageId NOT IN (SELECT id FROM pkg_mined)),
pp_all AS (
  SELECT DISTINCT 'npm:' || name AS srcPackageId, 'npm:' || dep_name AS dstPackageId FROM npm_dep
  UNION SELECT DISTINCT 'pypi:' || name, 'pypi:' || dep_name FROM pypi_dep
  UNION SELECT DISTINCT 'maven:' || name, 'maven:' || dep_name FROM mvn_dep
  UNION SELECT DISTINCT 'nuget:' || name, 'nuget:' || dep_name FROM nuget_dep)"""

  /** Artifact table CTE over minedPrelude (shared by q31/q46/q47). */
  private val artAllCte: String = """
, art_all AS (
  SELECT DISTINCT 'npm:' || name || ':' || version AS id, 'npm:' || name AS packageId, version FROM npm_ver
  UNION ALL SELECT DISTINCT 'pypi:' || name || ':' || version, 'pypi:' || name, version FROM pypi_rel
  UNION ALL SELECT DISTINCT 'maven:' || name || ':' || version, 'maven:' || name, version FROM mvn_art
  UNION ALL SELECT DISTINCT 'nuget:' || name || ':' || version, 'nuget:' || name, version FROM nuget_art)"""

  /**
   * SQL mirror of the FIXED-spec classification + normalization
   * (`MavenRangeResolver.isRange`: has a comma; `Npm/PyPiRangeResolver
   * .isRange`: doesn't match the plain-literal Pat; `NugetRangeResolver
   * .isRange`: not `[v]`; each `normalizeFixed` reproduced per ecosystem,
   * reference `VersionRangeResolver.java:39-55` and subclasses). Produces
   * `fixed_ap(srcArtifactId, dstPackageId, repo, versionRange, fixed)`.
   */
  private val fixedApCte: String = {
    val markers = Seq("$", "latest", "npm", "git", "dist", "file:", "link:",
      "sys_platform", "platform_machine", "sys.platform", "https://")
    val noMarkers = markers.map(m => s"NOT contains(versionRange, '${m.replace("'", "''")}')").mkString(" AND ")
    // the reference's plain-version-literal pattern (full match)
    val pat = """(v?)((((\d)+|x).){0,2}((\d)+|x))(((.)?)((\w)*))?"""
    s"""
, fixed_ap AS (
  SELECT srcArtifactId, dstPackageId, repo, versionRange,
    CASE repo
      WHEN 'maven' THEN replace(regexp_replace(replace(
             CASE WHEN versionRange LIKE '[%' AND versionRange LIKE '%]'
                  THEN replace(replace(versionRange, '[', ''), ']', '')
                  ELSE versionRange END,
             '-SNAPSHOT', ''), '\\.\\+', '', 'g'), ' ', '')
      WHEN 'nuget' THEN substr(versionRange, 2, length(versionRange) - 2)
      ELSE regexp_replace(regexp_replace(
             string_split(string_split(replace(versionRange, ' ', ''), '-')[1], '@')[1],
             '[*X]', 'x', 'g'), '["'']', '', 'g')
    END AS fixed
  FROM ap_all
  WHERE CASE repo
    WHEN 'maven' THEN versionRange <> '' AND NOT contains(versionRange, ',') AND $noMarkers
    WHEN 'nuget' THEN versionRange LIKE '[%' AND versionRange LIKE '%]' AND NOT contains(versionRange, ',')
    ELSE regexp_full_match(versionRange, '$pat') AND $noMarkers
  END)"""
  }

  /** SQL mirror of `VersionMath.parseNumber` (truncate >12 chars to 11,
    * strip non-digits, parse failures/overflow -> -1). */
  private def pnSql(x: String): String =
    s"coalesce(TRY_CAST(regexp_replace(CASE WHEN length($x) > 12 THEN substr($x, 1, 11) ELSE $x END, " +
      s"'[^0-9]', '', 'g') AS INTEGER), -1)"

  /**
   * Fixed-reference match predicate over candidate columns
   * (fixed, version, rp, vp, repo): exact equality, else the shared
   * `fixedRangeEquals` (x wildcards, numeric coercion, more-specific-range
   * guard, `VersionRangeResolver.java:169-198`) for maven/npm/pypi, else
   * NuGet's zero-extended numeric-vector + suffix equality
   * (`NugetVersion`, reference `SimpleVersion:186-299`).
   */
  private val fixedMatchSql: String = {
    val rpI = "rp[CAST(i AS INT)]"; val vpI = "vp[CAST(i AS INT)]"
    def nvParts(c: String): String =
      s"list_concat(list_transform(string_split(string_split($c, '-')[1], '.'), " +
        s"p -> coalesce(TRY_CAST(p AS INTEGER), 0)), [0, 0, 0, 0, 0, 0, 0, 0])[1:8]"
    def nvSuffix(c: String): String = s"coalesce(string_split($c, '-')[2], '')"
    s"""fixed = version
   OR (repo <> 'nuget' AND version <> '' AND len(rp) <= len(vp)
       AND list_aggregate(list_transform(range(1, len(rp) + 1), i ->
             $rpI = 'x' OR $vpI = $rpI OR ${pnSql(vpI)} = ${pnSql(rpI)}), 'bool_and'))
   OR (repo = 'nuget' AND ${nvParts("fixed")} = ${nvParts("version")}
       AND ${nvSuffix("fixed")} = ${nvSuffix("version")})"""
  }

  // ---- range-grammar resolve faces (q53 NuGet, q54 Maven) ----------------
  //
  // Both mirrors were verified EXHAUSTIVELY against the real Scala resolvers
  // before landing: every distinct corpus (spec, version) cross-product pair
  // (NuGet 456x32, Maven 650x32 at sf0.01) evaluates identically in the SQL
  // below and in Resolvers.forRepo(...).findMatchingVersions — including the
  // Maven classifier quirks (Pat's unescaped-dot tail absorbing a trailing
  // ']' makes the upper bound of `[a,b]` STRICT componentwise Lower3, and
  // the And-branch's replaceAll-with-dot-wildcards can mangle an operand
  // into `[,X.]`, which LowerEq2-classifies and then matches any version
  // with first component X).

  /** 8-long zero-extended numeric vector of a NuGet version string
    * (reference `SimpleVersion`: numeric dot parts, non-numeric parse to 0,
    * suffix after the first '-'). */
  private def nvpSql(c: String): String =
    s"list_concat(list_transform(string_split(string_split($c, '-')[1], '.'), " +
      s"p -> coalesce(TRY_CAST(p AS INTEGER), 0)), [0, 0, 0, 0, 0, 0, 0, 0])[1:8]"

  private def nvsSql(c: String): String = s"coalesce(string_split($c, '-')[2], '')"

  /**
   * NuGet range-arm CTEs over `ap_all`/`art_all`: mirrors
   * `NugetRangeResolver.parseRange` (bracket intervals with optional bounds,
   * bare version = minimum-inclusive, floating `1.*` -> `[1.0, 2.0)`) and
   * `inInterval` over zero-extended numeric vectors with the
   * no-suffix-sorts-above-suffix rule and the exclusive-bound
   * sameNumbers exclusion (reference `NugetVersionRangeResolver.java:62-299`).
   * Specs parseRange THROWS on (bracket with neither ',' nor '*') are
   * excluded — matchSpecs maps a throw to zero matches.
   */
  private val nugetRangeSql: String = {
    s"""
, nr0 AS (
  SELECT srcArtifactId, dstPackageId, versionRange AS s
  FROM ap_all
  WHERE repo = 'nuget'
    AND length(trim(versionRange)) > 0
    AND (versionRange LIKE '(%' OR versionRange LIKE '[%'
         OR substr(versionRange, 1, 1) BETWEEN '0' AND '9'
         OR substr(versionRange, 1, 1) = '*')
    AND NOT (versionRange LIKE '[%' AND versionRange LIKE '%]'
             AND NOT contains(versionRange, ','))
    AND (NOT (versionRange LIKE '(%' OR versionRange LIKE '[%')
         OR contains(versionRange, ',') OR contains(versionRange, '*'))),
nr1 AS (
  SELECT *,
    CASE WHEN contains(s, '*') THEN 'f'
         WHEN s LIKE '(%' OR s LIKE '[%' THEN 'b' ELSE 'd' END AS shape,
    string_split(trim(s), '.') AS fparts,
    CASE WHEN s LIKE '(%' OR s LIKE '[%'
         THEN trim(substr(s, 2, greatest(length(s) - 2, 0))) ELSE '' END AS innr
  FROM nr0),
nr2 AS (
  SELECT *,
    CAST(list_position(list_transform(fparts, p -> trim(p)), '*') AS INT) AS sidx,
    trim(string_split(innr, ',')[1]) AS lo_str,
    trim(coalesce(string_split(innr, ',')[2], '')) AS hi_str
  FROM nr1),
nr3 AS (
  SELECT srcArtifactId, dstPackageId, s, shape, sidx, hi_str,
    CASE shape
      WHEN 'f' THEN list_concat(list_transform(fparts[1:sidx-1], p -> coalesce(TRY_CAST(trim(p) AS INTEGER), 0)), [0, 0, 0, 0, 0, 0, 0, 0])[1:8]
      WHEN 'b' THEN CASE WHEN lo_str = '' THEN NULL ELSE ${nvpSql("lo_str")} END
      ELSE ${nvpSql("s")} END AS loP,
    CASE shape
      WHEN 'b' THEN CASE WHEN lo_str = '' THEN '' ELSE ${nvsSql("lo_str")} END
      WHEN 'd' THEN ${nvsSql("s")} ELSE '' END AS loS,
    CASE shape WHEN 'b' THEN s LIKE '[%' ELSE true END AS lo_inc,
    CASE shape WHEN 'b' THEN s LIKE '%]' ELSE false END AS hi_inc
  FROM nr2),
nr4 AS (
  SELECT srcArtifactId, dstPackageId, s, loP, loS, lo_inc, hi_inc,
    CASE WHEN shape = 'f'
         THEN CASE WHEN sidx > 1
                   THEN list_transform(range(1, 9), i -> CASE WHEN i = sidx - 1 THEN loP[i] + 1 ELSE loP[i] END)
                   ELSE NULL END
         WHEN shape = 'b' THEN CASE WHEN hi_str = '' THEN NULL ELSE ${nvpSql("hi_str")} END
         ELSE NULL END AS hiP,
    CASE WHEN shape = 'b' AND hi_str <> '' THEN ${nvsSql("hi_str")} ELSE '' END AS hiS
  FROM nr3),
ncand AS (
  SELECT n.srcArtifactId, a.id AS dstArtifactId,
         n.loP, n.loS, n.lo_inc, n.hiP, n.hiS, n.hi_inc,
         ${nvpSql("a.version")} AS vP, ${nvsSql("a.version")} AS vS
  FROM nr4 n JOIN art_all a ON a.packageId = n.dstPackageId
  WHERE a.packageId LIKE 'nuget:%'),
nhit AS (
  SELECT srcArtifactId, dstArtifactId FROM ncand
  WHERE (loP IS NULL OR (NOT (vP < loP OR (vP = loP AND vS <> '' AND (loS = '' OR vS < loS)))
                         AND NOT ((NOT lo_inc) AND vP = loP)))
    AND (hiP IS NULL OR (NOT (vP > hiP OR (vP = hiP AND hiS <> '' AND (vS = '' OR vS > hiS)))
                         AND NOT ((NOT hi_inc) AND vP = hiP))))"""
  }

  /**
   * Maven range-arm CTEs: mirrors `MavenRangeResolver.classify`/`contains`
   * for the corpus-reachable comma grammar — `(,a]` (LowerEq), `[a,)`
   * (HigherEq), `[[a],[b]]` (Or of Std equality), `[a,b)`/`[a,b]` (And with
   * operand regex-replace, including the mangled-operand quirks documented
   * above). Numeric comparisons all go through the parseNumber mirror
   * ([[pnSql]]); version arity guards reproduce the
   * index-out-of-bounds-to-false behaviour. Comma specs outside the four
   * shapes classify Unknown/fall through in the resolver and match nothing
   * on this corpus (the exhaustive cross-check pins that), so the oracle
   * drops them.
   */
  private val mavenRangeSql: String = {
    val markers = Seq("$", "latest", "npm", "git", "dist", "file:", "link:",
      "sys_platform", "platform_machine", "sys.platform", "https://")
    val noMarkers = markers.map(m => s"NOT contains(versionRange, '${m.replace("'", "''")}')").mkString(" AND ")
    def a(i: Int) = pnSql(s"aParts[$i]")
    def b(i: Int) = pnSql(s"bParts[$i]")
    def t(i: Int) = pnSql(s"tParts[$i]")
    val freA = s"(tLen >= aLen AND list_aggregate(list_transform(range(1, aLen + 1), " +
      s"i -> ${pnSql("tParts[i]")} = ${pnSql("aParts[i]")}), 'bool_and'))"
    val freB = s"(tLen >= bLen AND list_aggregate(list_transform(range(1, bLen + 1), " +
      s"i -> ${pnSql("tParts[i]")} = ${pnSql("bParts[i]")}), 'bool_and'))"
    val higherStrict = s"(CASE aLen WHEN 1 THEN tLen >= 1 AND ${t(1)} > ${a(1)} " +
      s"WHEN 2 THEN tLen >= 2 AND (${t(1)} > ${a(1)} OR (${t(1)} = ${a(1)} AND ${t(2)} > ${a(2)})) " +
      s"WHEN 3 THEN tLen >= 3 AND (${t(1)} > ${a(1)} OR (${t(1)} = ${a(1)} AND ${t(2)} > ${a(2)}) " +
      s"OR (${t(1)} = ${a(1)} AND ${t(2)} = ${a(2)} AND ${t(3)} > ${a(3)})) ELSE false END)"
    // Lower3 is componentwise OR (reference quirk `:236-243`); Lower1/2 lexicographic
    val lowerStrict = s"(CASE bLen WHEN 1 THEN tLen >= 1 AND ${t(1)} < ${b(1)} " +
      s"WHEN 2 THEN tLen >= 2 AND (${t(1)} < ${b(1)} OR (${t(1)} = ${b(1)} AND ${t(2)} < ${b(2)})) " +
      s"WHEN 3 THEN tLen >= 3 AND (${t(1)} < ${b(1)} OR ${t(2)} < ${b(2)} OR ${t(3)} < ${b(3)}) ELSE false END)"
    "\n, mr0 AS (\n" +
      "  SELECT srcArtifactId, dstPackageId, versionRange AS s\n" +
      "  FROM ap_all\n" +
      s"  WHERE repo = 'maven' AND versionRange <> '' AND contains(versionRange, ',') AND $noMarkers),\n" +
      raw"""mr1 AS (
  SELECT *,
    CASE WHEN regexp_full_match(s, '\[\[[0-9.]+\],\[[0-9.]+\]\]') THEN 'or'
         WHEN regexp_full_match(s, '\(,[0-9.]+\]') THEN 'le'
         WHEN regexp_full_match(s, '\[[0-9.]+,\)') THEN 'he'
         WHEN regexp_full_match(s, '\[[0-9.]+,[0-9.]+[\)\]]') THEN 'and'
         ELSE 'x' END AS kind,
    regexp_replace(s, '[\[\]()]', '', 'g') AS ops,
    regexp_replace(regexp_replace(s, '^[\[(]', ''), '[\])]$$', '') AS innr
  FROM mr0),
mr2 AS (
  SELECT srcArtifactId, dstPackageId, s, kind,
    CASE kind WHEN 'or' THEN string_split(ops, ',')[1]
              WHEN 'he' THEN regexp_extract(s, '^\[([0-9.]+),', 1)
              WHEN 'and' THEN string_split(innr, ',')[1] ELSE '' END AS a_str,
    CASE kind WHEN 'or' THEN string_split(ops, ',')[2]
              WHEN 'le' THEN regexp_extract(s, '^\(,([0-9.]+)\]$$', 1)
              WHEN 'and' THEN string_split(innr, ',')[2] ELSE '' END AS b_str
  FROM mr1 WHERE kind <> 'x'),
mr3 AS (
  SELECT *,
    string_split(a_str, '.') AS aParts, CAST(len(string_split(a_str, '.')) AS INT) AS aLen,
    string_split(b_str, '.') AS bParts, CAST(len(string_split(b_str, '.')) AS INT) AS bLen,
    regexp_replace(s, b_str, '', 'g') AS repA,
    regexp_replace(s, a_str, '', 'g') AS repB
  FROM mr2),
mcand AS (
  SELECT m.*, a.id AS dstArtifactId, a.version,
    string_split(a.version, '.') AS tParts, CAST(len(string_split(a.version, '.')) AS INT) AS tLen
  FROM mr3 m JOIN art_all a ON a.packageId = m.dstPackageId
  WHERE a.packageId LIKE 'maven:%')""".stripMargin +
      s"""
, mhit AS (
  SELECT srcArtifactId, dstArtifactId FROM mcand
  WHERE version <> '' AND NOT contains(version, '$$')
    AND CASE kind
      WHEN 'or' THEN a_str <> b_str AND ((version = a_str OR $freA) OR (version = b_str OR $freB))
      WHEN 'le' THEN version = b_str OR $freB OR $lowerStrict
      WHEN 'he' THEN $freA OR $higherStrict
      WHEN 'and' THEN a_str <> b_str
        AND (repA = '[' || a_str || ',' || right(s, 1) AND ($freA OR $higherStrict))
        AND (CASE WHEN repB = '[,' || b_str || right(s, 1) THEN $lowerStrict
                  WHEN regexp_full_match(repB, '\\[,[0-9]+\\.\\]')
                    THEN tLen >= 1 AND ${t(1)} = ${pnSql("regexp_extract(repB, '[0-9]+', 0)")}
                  ELSE false END)
      ELSE false END)"""
  }

  /**
   * NPM range-arm CTEs: classify/contains mirrored for the corpus-reachable
   * grammar — `^a.b.c` (Dash3), `~a.b.c` (Tilde3), `>=a.b` (HigherEq2),
   * `<a` (Lower1), `>=a.b.c,<d.e.f` (And of HigherEq3 and Lower3),
   * `<=a.b.c || >d.e.f` (Or of LowerEq3 and Higher3), and `*` (normalizes
   * to the Pat-matching literal `x`, whose single-`x` fixedRangeEquals
   * wildcard matches every version). `carried` keeps operator prefixes
   * (`>=1.2` splits to f(0)=">=1"), but parseNumber strips non-digits, so
   * on this corpus's all-numeric triples every composite
   * (fre-or-Higher / Lower / LowerEq) collapses to a lexicographic
   * component compare — exactly DuckDB's integer-list comparison.
   * Exhaustively cross-checked against NpmRangeResolver over every
   * distinct corpus (spec, version) pair before landing (q53/q54
   * discipline); the resolver's t.length arity guards never fire because
   * corpus versions are always numeric 3-part.
   */
  private val npmRangeSql: String = {
    val markers = Seq("$", "latest", "npm", "git", "dist", "file:", "link:",
      "sys_platform", "platform_machine", "sys.platform", "https://")
    val noMarkers = markers.map(m => s"NOT contains(versionRange, '${m.replace("'", "''")}')").mkString(" AND ")
    val pat = """(v?)((((\d)+|x).){0,2}((\d)+|x))(((.)?)((\w)*))?"""
    def trip(c: String) = s"list_transform(string_split($c, '.'), p -> CAST(p AS INTEGER))"
    s"""
, npr AS (
  SELECT srcArtifactId, dstPackageId,
    regexp_replace(regexp_replace(
      string_split(string_split(replace(versionRange, ' ', ''), '-')[1], '@')[1],
      '[*X]', 'x', 'g'), '["'']', '', 'g') AS n
  FROM ap_all
  WHERE repo = 'npm' AND versionRange <> '' AND $noMarkers
    AND NOT regexp_full_match(versionRange, '$pat')),
npv AS (
  SELECT r.srcArtifactId, a.id AS dstArtifactId, r.n,
         ${trip("a.version")} AS vP
  FROM npr r JOIN art_all a ON a.packageId = r.dstPackageId
  WHERE a.packageId LIKE 'npm:%'
    AND regexp_full_match(a.version, '\\d+\\.\\d+\\.\\d+')),
nphit AS (
  SELECT srcArtifactId, dstArtifactId FROM npv
  WHERE CASE
    WHEN n = 'x' THEN true
    WHEN regexp_full_match(n, '\\^\\d+\\.\\d+\\.\\d+')
      THEN vP[1] = ${trip("substr(n, 2)")}[1]
           AND vP[2:3] >= ${trip("substr(n, 2)")}[2:3]
    WHEN regexp_full_match(n, '~\\d+\\.\\d+\\.\\d+')
      THEN vP[1:2] = ${trip("substr(n, 2)")}[1:2]
           AND vP[3] >= ${trip("substr(n, 2)")}[3]
    WHEN regexp_full_match(n, '>=\\d+\\.\\d+')
      THEN vP[1:2] >= ${trip("substr(n, 3)")}
    WHEN regexp_full_match(n, '<\\d+')
      THEN vP[1] < CAST(substr(n, 2) AS INTEGER)
    WHEN regexp_full_match(n, '>=\\d+\\.\\d+\\.\\d+,<\\d+\\.\\d+\\.\\d+')
      THEN vP >= ${trip("substr(string_split(n, ',')[1], 3)")}
           AND vP < ${trip("substr(string_split(n, ',')[2], 2)")}
    WHEN regexp_full_match(n, '<=\\d+\\.\\d+\\.\\d+\\|\\|>\\d+\\.\\d+\\.\\d+')
      THEN vP <= ${trip("substr(string_split(n, '||')[1], 3)")}
           OR vP > ${trip("substr(string_split(n, '||')[2], 2)")}
    ELSE false END)"""
  }

  /**
   * PyPi range-arm CTEs. The requires_dist parse (reference
   * `PyPiArtifactMiner` split on `;|\\(|=|<|>|:`) strips operators BEFORE
   * specs reach the resolver, so the corpus-reachable pypi range arm is
   * exactly three literals: the empty spec (classifies `All`, matches
   * EVERY version, reference `:283-287`), and `extra` / `~` (classify
   * Unknown; fixedRangeEquals on a non-numeric single part parseNumbers
   * to -1 and never equals a corpus version part, so they match nothing).
   * Numeric `a.b` / `a` leftovers match the plain-literal Pat and are the
   * FIXED arm's (q46) — excluded here, as in `isRange`. Exhaustively
   * cross-checked against PyPiRangeResolver over every distinct corpus
   * (spec, version) pair.
   */
  private val pypiRangeSql: String = {
    val markers = Seq("$", "latest", "npm", "git", "dist", "file:", "link:",
      "sys_platform", "platform_machine", "sys.platform", "https://")
    val noMarkers = markers.map(m => s"NOT contains(versionRange, '${m.replace("'", "''")}')").mkString(" AND ")
    val pat = """(v?)((((\d)+|x).){0,2}((\d)+|x))(((.)?)((\w)*))?"""
    s"""
, pyr AS (
  SELECT srcArtifactId, dstPackageId,
    replace(regexp_replace(regexp_replace(
      string_split(string_split(versionRange, '-')[1], '@')[1],
      '[*X]', 'x', 'g'), '["'']', '', 'g'), ' ', '') AS n
  FROM ap_all
  WHERE repo = 'pypi' AND $noMarkers
    AND NOT regexp_full_match(versionRange, '$pat')),
pyhit AS (
  SELECT r.srcArtifactId, a.id AS dstArtifactId
  FROM pyr r JOIN art_all a ON a.packageId = r.dstPackageId
  WHERE a.packageId LIKE 'pypi:%' AND r.n = '')"""
  }

  /** SQL mirror of graft.model.VersionCompare.key (Artifact.java:63-84). */
  private def vcSql(col: String): String = {
    def comp(i: Int): String = {
      val part = s"string_split($col, '.')[$i]"
      val dig = s"regexp_replace($part, '[^0-9]+', '', 'g')"
      s"CASE WHEN len(string_split($col, '.')) < $i OR contains($part, 'x') THEN '00000' " +
        s"WHEN length($dig) > 5 THEN '00000' ELSE lpad($dig, 5, '0') END"
    }
    s"(${comp(1)} || ${comp(2)} || ${comp(3)})"
  }

  /**
   * Unrolled fixed-iteration PageRank WITH per-superstep dangling-mass
   * redistribution, as CTE text appendable after a WITH: the standard
   * formulation r_i(v) = (1-d)/n + d*(sum contribs + dm_{i-1}/n). Every
   * step is MATERIALIZED — DuckDB inlines plain CTEs per reference, and the
   * r_i/dm_i chain would otherwise duplicate the whole upstream subtree
   * 2^iters times.
   */
  private def prDanglingSql(iters: Int, edgesCte: String): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT v.v AS v,
         |         CAST(0.15 AS DOUBLE)/(SELECT n FROM nn) +
         |         CAST(0.85 AS DOUBLE)*(COALESCE(SUM(r.rank/d.outdeg), CAST(0 AS DOUBLE)) +
         |                               (SELECT dm FROM dm${i - 1})/(SELECT n FROM nn)) AS rank
         |  FROM verts v
         |  LEFT JOIN edges e ON e.dst = v.v
         |  LEFT JOIN r${i - 1} r ON r.v = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY v.v),
         |dm$i AS MATERIALIZED (SELECT COALESCE(SUM(rank), CAST(0 AS DOUBLE)) AS dm FROM r$i r
         |          WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.src = r.v))""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED ($edgesCte),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
       |r0 AS MATERIALIZED (SELECT v, CAST(1.0 AS DOUBLE)/(SELECT n FROM nn) AS rank FROM verts),
       |dm0 AS MATERIALIZED (SELECT COALESCE(SUM(rank), CAST(0 AS DOUBLE)) AS dm FROM r0 r
       |        WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.src = r.v)),
       |$steps""".stripMargin
  }

  // ---------------------------------------------------------------- oracles

  /** Shared SQL fragments mirroring TextOps (identical arithmetic). */
  private def occSql(c: String, sub: String): String =
    s"(length($c) - length(replace($c, '$sub', ''))) / ${sub.length}"
  private val tokSql = s"CAST(${occSql("text", " ")} AS BIGINT) + 1"

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
        |ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_partkey, FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05""".stripMargin,
    "q03_join_agg" ->
      """SELECT n_name, ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q04_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "q05_anti_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "q06_distinct_pairs" ->
      "SELECT DISTINCT l_suppkey, l_partkey FROM lineitem",
    "q07_topk" ->
      """SELECT l_partkey, COUNT(*) AS n_items, ROUND(SUM(l_extendedprice), 2) AS revenue
        |FROM lineitem GROUP BY l_partkey ORDER BY n_items DESC, l_partkey ASC LIMIT 10""".stripMargin,
    "q08_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders) x WHERE rn <= 3""".stripMargin,
    "q09_event_compaction" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) x WHERE rn = 1""".stripMargin,
    "q10_offset_page" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 20",
    "q11_merge_precedence" ->
      """SELECT r.custkey, COALESCE(c.c_name, 'Prototype Package') AS name
        |FROM (SELECT DISTINCT o_custkey AS custkey FROM orders) r
        |LEFT JOIN customer c ON c.c_custkey = r.custkey""".stripMargin,
    "q12_version_compare" ->
      """SELECT p_partkey,
        |  CAST(p_size AS VARCHAR) || '.' || CAST(p_partkey % 10 AS VARCHAR) || '.' || CAST(p_partkey % 7 AS VARCHAR) AS version,
        |  lpad(CAST(p_size AS VARCHAR), 5, '0') || lpad(CAST(p_partkey % 10 AS VARCHAR), 5, '0') || lpad(CAST(p_partkey % 7 AS VARCHAR), 5, '0') AS version_compare
        |FROM part""".stripMargin,
    "q13_degrees" ->
      s"""WITH edges AS ($edgesSql),
         |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
         |o AS (SELECT src AS v, COUNT(*) AS outdegree FROM edges GROUP BY src),
         |i AS (SELECT dst AS v, COUNT(*) AS indegree FROM edges GROUP BY dst)
         |SELECT verts.v AS id, COALESCE(o.outdegree, 0) AS outdegree, COALESCE(i.indegree, 0) AS indegree
         |FROM verts LEFT JOIN o ON o.v = verts.v LEFT JOIN i ON i.v = verts.v""".stripMargin,
    "q14_pagerank" -> pageRankSql(8),
    "q15_connected_components" ->
      s"""WITH RECURSIVE edges0 AS ($edgesSql),
         |edges AS (SELECT src, dst FROM edges0 UNION SELECT dst AS src, src AS dst FROM edges0),
         |verts AS (SELECT DISTINCT src AS v FROM edges),
         |cc(v, label) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.v)
         |SELECT v AS id, MIN(label) AS component FROM cc GROUP BY v""".stripMargin,
    "q16_triangle_count" ->
      s"""WITH edges AS ($edgesSql),
         |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges)
         |SELECT COUNT(*) AS triangles
         |FROM e a JOIN e b ON a.u = b.u AND a.v < b.v JOIN e c ON c.u = a.v AND c.v = b.v""".stripMargin,
    "q17_triangles_per_vertex" ->
      s"""WITH edges AS ($edgesSql),
         |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges),
         |t AS (SELECT a.u AS x, a.v AS y, b.v AS z
         |      FROM e a JOIN e b ON a.u = b.u AND a.v < b.v JOIN e c ON c.u = a.v AND c.v = b.v)
         |SELECT id, COUNT(*) AS triangles FROM (
         |  SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t) u
         |GROUP BY id""".stripMargin,
    "q18_label_propagation" -> labelPropSql(3),
    "q26_pagerank_dangling" ->
      s"""WITH ${prDanglingSql(8, edgesSql)}
         |SELECT v AS id, ROUND(rank, 6) AS rank FROM r8""".stripMargin,
    "q30_mine_packages" -> (minedPrelude + """
SELECT id, name, repo, isPrototype FROM (
  SELECT id, name, repo, false AS isPrototype FROM pkg_mined
  UNION ALL SELECT id, name, repo, true FROM pkg_proto)"""),
    "q31_mine_artifacts" -> (minedPrelude + artAllCte + s"""
SELECT id, packageId, version, ${vcSql("version")} AS versionCompare FROM art_all"""),
    "q32_mine_ap_edges" -> (minedPrelude +
      "\nSELECT srcArtifactId, dstPackageId, versionRange, false AS resolved FROM ap_all"),
    "q33_mine_pp_edges" -> (minedPrelude + "\nSELECT srcPackageId, dstPackageId FROM pp_all"),
    // Per-kind malformed-manifest counts: the EXACT predicates under which
    // the Spark parser quarantines on this corpus (truncated JSON fails
    // Jackson <=> NOT json_valid; a truncated pom loses its closing tag <=>
    // missing '</project>') — the same predicates minedPrelude uses to keep
    // its positives, so this certifies the quarantine/parse split end-to-end.
    "q34_quarantine" ->
      """WITH rf AS (SELECT * FROM read_parquet('__AUX_REPO_FILES__/*.parquet'))
        |SELECT kind, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN path = 'package.json' THEN 'npm'
        |              WHEN path = 'pom.xml' THEN 'maven'
        |              WHEN path LIKE 'pypi/%' THEN 'pypi'
        |              ELSE 'nuget' END AS kind
        |  FROM rf
        |  WHERE (path = 'package.json' AND NOT json_valid(content))
        |     OR (path = 'pom.xml' AND NOT contains(content, '</project>'))
        |     OR (path LIKE 'pypi/%.json' AND NOT json_valid(content))
        |     OR (path LIKE 'nuget/%.json' AND NOT json_valid(content))) q
        |GROUP BY kind""".stripMargin,
    "q36_mined_pagerank" -> (minedPrelude + ",\n" +
      prDanglingSql(10, "SELECT srcPackageId AS src, dstPackageId AS dst FROM pp_all") + """
SELECT v AS package_id, ROUND(rank, 6) AS rank FROM r10
ORDER BY ROUND(rank, 6) DESC, v ASC LIMIT 20"""),
    "q37_mined_components" -> (minedPrelude + """
, edges0 AS (SELECT srcPackageId AS src, dstPackageId AS dst FROM pp_all),
verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges0 UNION SELECT dst FROM edges0) u),
dict AS (SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v) - 1 AS BIGINT) AS id FROM verts),
edges_sym AS (SELECT src, dst FROM edges0 UNION SELECT dst AS src, src AS dst FROM edges0),
cc(v, label) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.dst, c.label FROM cc c JOIN edges_sym e ON e.src = c.v),
lab AS (SELECT v, MIN(label) AS label FROM cc GROUP BY v),
comp AS (SELECT d2.id AS component FROM lab JOIN dict d2 ON d2.v = lab.label)
SELECT component, COUNT(*) AS size FROM comp
GROUP BY component ORDER BY size DESC, component ASC LIMIT 20"""),
    "q19_dedup_exact" ->
      "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY text",
    "q20_token_count" ->
      s"""SELECT doc_id, $tokSql AS token_count,
         |CAST(CEIL(length(regexp_replace(text, '\\s+', '', 'g')) / CAST(4.0 AS DOUBLE)) AS BIGINT) AS bpe_tokens
         |FROM documents""".stripMargin,
    "q21_quality" -> qualitySql,
    "q22_lang_id" -> langIdSql,
    "q23_embed_norms" ->
      """SELECT vec_id, ROUND(SQRT(SUM(e * e)), 4) AS norm FROM (
        |  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS e FROM embeddings) x
        |GROUP BY vec_id""".stripMargin,
    "q25_word_jaccard" ->
      """WITH base AS (SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS words
        |             FROM documents WHERE doc_id < 30)
        |SELECT l.id AS id_a, r.id AS id_b,
        |       ROUND(CAST(len(list_intersect(l.words, r.words)) AS DOUBLE) /
        |             len(list_distinct(list_concat(l.words, r.words))), 6) AS jaccard
        |FROM base l JOIN base r ON l.id < r.id""".stripMargin,
    // Fixed-spec resolve face: the full machinery (candidate selection,
    // fan-out, MERGE dedup) restricted to specs classified FIXED, matched by
    // the SQL mirror of normalizeFixed + fixedRangeEquals.
    "q46_resolve_fixed" -> (minedPrelude + artAllCte + fixedApCte + s"""
, cand AS (
  SELECT f.srcArtifactId, a.id AS dstArtifactId, f.repo, f.fixed, a.version,
         string_split(f.fixed, '.') AS rp, string_split(a.version, '.') AS vp
  FROM fixed_ap f JOIN art_all a ON a.packageId = f.dstPackageId)
SELECT DISTINCT srcArtifactId, dstArtifactId FROM cand
WHERE $fixedMatchSql"""),
    // Resolved-flag face: after a resolve pass, an edge is resolved iff its
    // target package was processed (>=1 artifact), independent of whether the
    // spec matched any version (Neo4jLinkageParser.java:252-255).
    "q47_resolve_fixed_flags" -> (minedPrelude + artAllCte + fixedApCte + """
SELECT f.srcArtifactId, f.dstPackageId, f.versionRange,
       EXISTS (SELECT 1 FROM art_all a WHERE a.packageId = f.dstPackageId) AS resolved
FROM fixed_ap f"""),
    // NuGet range face: parseRange/inInterval mirrored over zero-extended
    // numeric vectors (lists compare lexicographically, which IS the
    // zero-extended vector compare once both sides are padded to 8).
    "q53_resolve_nuget_ranges" -> (minedPrelude + artAllCte + nugetRangeSql + """
SELECT DISTINCT srcArtifactId, dstArtifactId FROM nhit"""),
    // Maven range face: classify/contains mirrored per corpus-reachable
    // comma shape, quirks included (see mavenRangeSql scaladoc).
    "q54_resolve_maven_ranges" -> (minedPrelude + artAllCte + mavenRangeSql + """
SELECT DISTINCT srcArtifactId, dstArtifactId FROM mhit"""),
    // NPM / PyPi range faces: the remaining two grammars (see the
    // npmRangeSql / pypiRangeSql scaladocs for the shape-by-shape mirrors).
    "q57_resolve_npm_ranges" -> (minedPrelude + artAllCte + npmRangeSql + """
SELECT DISTINCT srcArtifactId, dstArtifactId FROM nphit"""),
    "q58_resolve_pypi_ranges" -> (minedPrelude + artAllCte + pypiRangeSql + """
SELECT DISTINCT srcArtifactId, dstArtifactId FROM pyhit"""),
    // FULL resolve oracle (the former last no_oracle): with all four
    // ecosystems' range grammars now mirrored (q53/q54/q57/q58) and the
    // fixed arm (q46), the complete AP->AA resolve is the DISTINCT union
    // of the five arms — invalid-marker specs match nothing on both sides.
    "q35_resolve_aa" -> (minedPrelude + artAllCte + fixedApCte + nugetRangeSql +
      mavenRangeSql + npmRangeSql + pypiRangeSql + s"""
, fcand AS (
  SELECT f.srcArtifactId, a.id AS dstArtifactId, f.repo, f.fixed, a.version,
         string_split(f.fixed, '.') AS rp, string_split(a.version, '.') AS vp
  FROM fixed_ap f JOIN art_all a ON a.packageId = f.dstPackageId)
SELECT DISTINCT srcArtifactId, dstArtifactId FROM (
  SELECT srcArtifactId, dstArtifactId FROM fcand WHERE $fixedMatchSql
  UNION ALL SELECT srcArtifactId, dstArtifactId FROM nhit
  UNION ALL SELECT srcArtifactId, dstArtifactId FROM mhit
  UNION ALL SELECT srcArtifactId, dstArtifactId FROM nphit
  UNION ALL SELECT srcArtifactId, dstArtifactId FROM pyhit) u"""),
    // Multimodal metadata round-trip: syntheticMedia encodes dims / sample
    // rate / frame count as pure doc_id arithmetic (Multimodal.syntheticMedia),
    // and extractFeatures reports what the codec ACTUALLY decoded — equality
    // against this recomputation certifies the PNG/WAV/animated-GIF
    // encode→decode round-trips end-to-end.
    "q42_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN LEAST(32, 1 + doc_id % 90) ELSE 1 END AS INT) AS frames,
        |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8 + doc_id % 16
        |            WHEN 2 THEN 8 + doc_id % 8 ELSE 0 END AS INT) AS decodedWidth,
        |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8 + doc_id % 12
        |            WHEN 2 THEN 8 + doc_id % 6 ELSE 0 END AS INT) AS decodedHeight,
        |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 8000 ELSE 0 END AS INT) AS sampleRateHz
        |FROM documents""".stripMargin,
    "q43_shingle_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT id, g FROM (
        |    SELECT doc_id AS id,
        |           unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
        |             i -> substr(text, CAST(i AS INT), 5))) AS g
        |    FROM documents WHERE doc_id < 40) u),
        |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.1""".stripMargin,
    "q44_signbit_hamming" ->
      """WITH sig AS (
        |  SELECT vec_id AS id,
        |         CAST(list_sum(list_transform(range(0, 60),
        |           j -> CASE WHEN embedding[CAST(j AS INT)+1] > 0
        |                THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
        |  FROM embeddings),
        |banded AS (
        |  SELECT id, sig, CAST(b AS INT) AS band, (sig >> (15*CAST(b AS INT))) & 32767 AS key
        |  FROM sig, unnest(range(0, 4)) t(b)),
        |cand AS (
        |  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sa, r.sig AS sb
        |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.id < r.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming FROM cand""".stripMargin,
    "q45_winnow_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(length(text)-7, 1)+1),
        |                        i -> substr(text, CAST(i AS INT), 8)) AS grams
        |  FROM documents WHERE doc_id < 50),
        |w AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(grams)-15, 1)+1),
        |                        j -> list_min(grams[CAST(j AS INT):CAST(j AS INT)+15]))) AS fps
        |  FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin,
    "q51_vocabulary" ->
      """SELECT tok AS token, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents) u
        |WHERE tok <> '' GROUP BY tok HAVING COUNT(*) >= 3""".stripMargin,
    // Content-addressed sampling mirror: first 60 bits of md5(id-as-string)
    // mod 10^6 against the per-stratum rate — the whole point of hashing the
    // id instead of seeding an RNG is that ANY engine recomputes the sample.
    "q52_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |      < CAST(round(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 ELSE 0.25 END * 1000000) AS BIGINT)""".stripMargin,
    // BPE iteration-1 statistics recomputed from scratch: wordcount, then
    // adjacent char pairs per distinct word weighted by word frequency.
    "q55_bpe_pairs" ->
      """WITH words AS (
        |  SELECT tok AS w, COUNT(*) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents) u
        |  WHERE tok <> '' GROUP BY tok),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)), i ->
        |           struct_pack(a := substr(w, CAST(i AS INT), 1),
        |                       b := substr(w, CAST(i AS INT)+1, 1)))) AS p, n
        |  FROM words WHERE length(w) >= 2)
        |SELECT p.a AS a, p.b AS b, CAST(SUM(n) AS BIGINT) AS cnt
        |FROM pairs GROUP BY p.a, p.b HAVING SUM(n) >= 5""".stripMargin,
    // Repetition signals mirror: per-doc n-gram counts via unnest + window
    // argmax with the same (cnt DESC, gram DESC) tie-break as the
    // struct-max in TextOps.repetitionSignals.
    "q59_repetition_signals" ->
      """WITH w AS (
        |  SELECT doc_id, length(text) AS tl, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents),
        |bg2 AS (
        |  SELECT doc_id, tl, unnest(list_transform(range(1, len(ws)),
        |           i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1])) AS g
        |  FROM w WHERE len(ws) >= 2),
        |bc2 AS (SELECT doc_id, tl, g, count(*) AS cnt FROM bg2 GROUP BY 1, 2, 3),
        |t2 AS (SELECT doc_id, round(cnt * length(g) / CAST(tl AS DOUBLE), 6) AS f,
        |              row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
        |       FROM bc2),
        |bg3 AS (
        |  SELECT doc_id, tl, unnest(list_transform(range(1, len(ws) - 1),
        |           i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] || ' ' || ws[CAST(i AS INT)+2])) AS g
        |  FROM w WHERE len(ws) >= 3),
        |bc3 AS (SELECT doc_id, tl, g, count(*) AS cnt FROM bg3 GROUP BY 1, 2, 3),
        |t3 AS (SELECT doc_id, round(cnt * length(g) / CAST(tl AS DOUBLE), 6) AS f,
        |              row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
        |       FROM bc3)
        |SELECT w.doc_id,
        |  coalesce((SELECT f FROM t2 WHERE t2.doc_id = w.doc_id AND rn = 1), 0.0) AS top2gram_char_frac,
        |  coalesce((SELECT f FROM t3 WHERE t3.doc_id = w.doc_id AND rn = 1), 0.0) AS top3gram_char_frac,
        |  round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6) AS dup_word_frac
        |FROM w""".stripMargin,
    "q60_shortest_paths" ->
      // bounded BFS as a recursive CTE: UNION dedups (v, dist) pairs and
      // dist strictly grows toward the cap, so it terminates on any graph
      s"""WITH RECURSIVE edges AS ($edgesSql),
         |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
         |bfs(v, dist) AS (
         |  SELECT v, 0 FROM verts WHERE v % 97 = 0
         |  UNION
         |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.v WHERE b.dist < 3)
         |SELECT v AS id, CAST(MIN(dist) AS INTEGER) AS dist FROM bfs GROUP BY v""".stripMargin,
    "q61_clustering_coefficient" ->
      // q17's triangle enumeration + the undirected distinct degree;
      // identical division op order to the Spark side: (2.0*t)/(d*(d-1.0))
      s"""WITH edges AS ($edgesSql),
         |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges),
         |deg AS (SELECT x AS id, COUNT(*) AS degree FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) ux GROUP BY x),
         |t AS (SELECT a.u AS x, a.v AS y, b.v AS z
         |      FROM e a JOIN e b ON a.u = b.u AND a.v < b.v JOIN e c ON c.u = a.v AND c.v = b.v),
         |tv AS (SELECT id, COUNT(*) AS triangles FROM (
         |  SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t) u2 GROUP BY id)
         |SELECT d.id, d.degree, COALESCE(tv.triangles, 0) AS triangles,
         |  ROUND(CASE WHEN d.degree >= 2
         |        THEN 2.0 * COALESCE(tv.triangles, 0) / (d.degree * (d.degree - 1.0))
         |        ELSE 0.0 END, 6) AS lcc
         |FROM deg d LEFT JOIN tv ON tv.id = d.id""".stripMargin,
    "q62_kcore" -> kCoreSql(3, KCoreFaceRounds),
    "q63_quality_filter" ->
      // q20's token count + q59's t2/dup signals feeding the ordered
      // first-fail rule CASE — thresholds compare the ROUNDED signals on
      // both engines, so boundary rows cannot diverge
      s"""WITH w AS (
         |  SELECT doc_id, text, length(text) AS tl, regexp_split_to_array(text, '\\s+') AS ws
         |  FROM documents),
         |bg2 AS (
         |  SELECT doc_id, tl, unnest(list_transform(range(1, len(ws)),
         |           i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1])) AS g
         |  FROM w WHERE len(ws) >= 2),
         |bc2 AS (SELECT doc_id, tl, g, count(*) AS cnt FROM bg2 GROUP BY 1, 2, 3),
         |t2 AS (SELECT doc_id, round(cnt * length(g) / CAST(tl AS DOUBLE), 6) AS f,
         |              row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn
         |       FROM bc2),
         |sig AS (SELECT w.doc_id,
         |  $tokSql AS token_count,
         |  round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6) AS dup_word_frac,
         |  coalesce((SELECT f FROM t2 WHERE t2.doc_id = w.doc_id AND rn = 1), 0.0) AS top2gram_char_frac
         |  FROM w),
         |dec AS (SELECT *,
         |  CASE WHEN token_count < 20 THEN 'too_short'
         |       WHEN dup_word_frac > 0.65 THEN 'dup_words'
         |       WHEN top2gram_char_frac > 0.12 THEN 'repetitive_2gram'
         |       ELSE 'keep' END AS reason
         |  FROM sig)
         |SELECT doc_id, token_count, dup_word_frac, top2gram_char_frac, reason,
         |  (reason = 'keep') AS keep
         |FROM dec""".stripMargin,
    "q64_hits" -> hitsSql(8),
    "q65_personalized_pagerank" -> pprSql(8),
    "q66_pack_sequences" ->
      // CAST the window sum: DuckDB SUM(BIGINT) widens to HUGEINT, Spark
      // stays long — offsets must compare as the same type
      s"""WITH w AS (
         |  SELECT doc_id, doc_id % 8 AS shard, $tokSql AS token_count FROM documents),
         |c AS (SELECT doc_id, shard, token_count,
         |        CAST(SUM(token_count) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS end_off
         |      FROM w)
         |SELECT doc_id, shard, token_count,
         |  end_off - token_count AS start_off,
         |  CAST(FLOOR((end_off - token_count) / 128) AS BIGINT) AS first_chunk,
         |  CAST(FLOOR((end_off - 1) / 128) AS BIGINT) AS last_chunk
         |FROM c""".stripMargin,
    "q67_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents),
        |wf AS (SELECT doc_id, token, COUNT(*) AS tf FROM words WHERE token <> '' GROUP BY 1, 2),
        |dfr AS (SELECT token, COUNT(*) AS df FROM wf GROUP BY 1 HAVING COUNT(*) >= 2),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM documents)
        |SELECT doc_id, token, tf, df, ROUND(tf * ln((SELECT nn FROM n) / df), 6) AS tf_idf
        |FROM wf JOIN dfr USING (token)""".stripMargin,
    "q68_perplexity" ->
      // self-trained unigram cross-entropy (nats/token); CAST the count sum:
      // DuckDB SUM(BIGINT) widens to HUGEINT
      """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents),
        |wz AS (SELECT * FROM words WHERE token <> ''),
        |cnt AS (SELECT token, COUNT(*) AS cnt FROM wz GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt),
        |model AS (SELECT token, cnt / (SELECT total FROM tot) AS p FROM cnt)
        |SELECT doc_id, COUNT(*) AS n_tokens, ROUND(AVG(-ln(p)), 6) AS nats_per_token
        |FROM wz JOIN model USING (token) GROUP BY doc_id""".stripMargin,
    "q69_chunk_text" ->
      // overlapping 32-token windows, stride 16; DuckDB list slices are
      // 1-based inclusive = Spark slice(arr, start+1, len)
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS nw,
        |        CASE WHEN len(ws) <= 32 THEN 1
        |             ELSE CAST(CEIL((len(ws) - 32) / CAST(16 AS DOUBLE)) AS INT) + 1 END AS nchunks
        |      FROM w)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx, CAST(i * 16 AS INT) AS start_tok,
        |  CAST(LEAST(32, nw - i * 16) AS INT) AS n_tok,
        |  array_to_string(ws[CAST(i*16+1 AS INT) : CAST(i*16 + LEAST(32, nw - i*16) AS INT)], ' ') AS chunk_text
        |FROM n, UNNEST(range(0, nchunks)) AS t(i)""".stripMargin,
    "q70_random_walks" -> randomWalkSql(3, 2),
    "q71_node_similarity" ->
      s"""WITH edges AS ($edgesSql),
         |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM edges),
         |adj AS (SELECT u AS id, v AS nb FROM e UNION ALL SELECT v AS id, u AS nb FROM e),
         |deg AS (SELECT id, COUNT(*) AS deg FROM adj GROUP BY id),
         |inter AS (SELECT a1.id AS u, a2.id AS v, COUNT(*) AS common
         |          FROM adj a1 JOIN adj a2 ON a1.nb = a2.nb AND a1.id < a2.id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT i.u, i.v, i.common,
         |  ROUND(i.common / (d1.deg + d2.deg - i.common), 6) AS jaccard
         |FROM inter i JOIN deg d1 ON d1.id = i.u JOIN deg d2 ON d2.id = i.v""".stripMargin,
    "q73_scc" ->
      // mutual-reachability definition: scc(v) = min{w : v ->* w and w ->* v}
      s"""WITH RECURSIVE edges AS ($edgesSql),
         |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges) u),
         |reach(a, b) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
         |SELECT r1.a AS id, MIN(r1.b) AS scc FROM reach r1
         |WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
         |GROUP BY r1.a""".stripMargin,
    "q78_corpus_stats" ->
      // exact interpolated percentiles: Spark percentile and DuckDB
      // quantile_cont share the p*(n-1) linear rule; SUMs cast off HUGEINT
      s"""WITH w AS (SELECT $tokSql AS t, CAST(length(text) AS BIGINT) AS c FROM documents)
         |SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(t) AS BIGINT) AS total_tokens,
         |  CAST(SUM(c) AS BIGINT) AS total_chars,
         |  ROUND(AVG(t), 6) AS mean_tokens,
         |  ROUND(stddev_samp(t), 6) AS stddev_tokens,
         |  ROUND(quantile_cont(t, 0.5), 6) AS p50_tokens,
         |  ROUND(quantile_cont(t, 0.9), 6) AS p90_tokens,
         |  ROUND(quantile_cont(t, 0.99), 6) AS p99_tokens
         |FROM w""".stripMargin,
    "q75_weighted_pagerank" -> wPageRankSql(8),
    "q76_degree_assortativity" ->
      s"""WITH edges AS ($edgesSql),
         |o AS (SELECT src, COUNT(*) AS dout FROM edges GROUP BY src),
         |i AS (SELECT dst, COUNT(*) AS din FROM edges GROUP BY dst)
         |SELECT ROUND(corr(o.dout, i.din), 6) AS assortativity, COUNT(*) AS n_edges
         |FROM edges e JOIN o ON o.src = e.src JOIN i ON i.dst = e.dst""".stripMargin,
    "q77_reciprocity" ->
      s"""WITH edges AS ($edgesSql)
         |SELECT
         |  (SELECT COUNT(*) FROM edges e WHERE EXISTS (
         |     SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)) AS mutual_edges,
         |  (SELECT COUNT(*) FROM edges) AS total_edges,
         |  ROUND((SELECT COUNT(*) FROM edges e WHERE EXISTS (
         |     SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src))
         |    / (SELECT COUNT(*) FROM edges), 6) AS reciprocity""".stripMargin,
    "q74_cooccurrence" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem)
        |SELECT a1.item AS a, a2.item AS b, COUNT(*) AS cooc
        |FROM m a1 JOIN m a2 ON a1.g = a2.g AND a1.item < a2.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    "q72_redact_pii" ->
      // conservative POSIX-class regexes evaluate identically under Java's
      // engine and DuckDB's RE2; DuckDB needs the explicit 'g' flag to
      // match Spark's replace-all default
      """WITH enriched AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 01'
        |         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |         || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g') AS redacted,
        |  CAST(len(regexp_split_to_array(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS BIGINT) AS n_emails,
        |  CAST(len(regexp_split_to_array(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) - 1 AS BIGINT) AS n_ips
        |FROM enriched""".stripMargin,
    // Cross-corpus decontamination mirror: raw-gram Jaccard between the
    // corpus and the (id-shifted) eval slice, thresholded.
    "q50_decontaminate" ->
      """WITH corpus AS (SELECT doc_id AS id, text FROM documents),
        |ev AS (SELECT doc_id + 5000000 AS id, text FROM documents WHERE doc_id < 15),
        |shc AS (
        |  SELECT DISTINCT id, g FROM (
        |    SELECT id, unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
        |           i -> substr(text, CAST(i AS INT), 5))) AS g FROM corpus) u),
        |she AS (
        |  SELECT DISTINCT id, g FROM (
        |    SELECT id, unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
        |           i -> substr(text, CAST(i AS INT), 5))) AS g FROM ev) u),
        |sc AS (SELECT id, count(*) AS n FROM shc GROUP BY id),
        |se AS (SELECT id, count(*) AS n FROM she GROUP BY id),
        |inter AS (
        |  SELECT a.id AS doc_id, b.id AS eval_id, count(*) AS c
        |  FROM shc a JOIN she b ON a.g = b.g GROUP BY 1, 2)
        |SELECT doc_id, eval_id, ROUND(CAST(c AS DOUBLE)/(sc.n + se.n - c), 6) AS jaccard,
        |       c AS shared_grams
        |FROM inter JOIN sc ON sc.id = doc_id JOIN se ON se.id = eval_id
        |WHERE CAST(c AS DOUBLE)/(sc.n + se.n - c) >= 0.5""".stripMargin,
    // Incremental-index mirror: raw-gram Jaccard between the (id-shifted)
    // arrival batch and corpus ∪ batch, thresholded at the provably-LSH-
    // complete exact-dup level; count(DISTINCT g) per normalized pair so a
    // batch-batch pair (both sides in the arrival set) isn't double-counted.
    "q56_incremental_neardup" ->
      """WITH docs AS (SELECT doc_id AS id, text FROM documents),
        |newd AS (SELECT doc_id + 2000000 AS id, text FROM documents WHERE doc_id < 20),
        |alld AS (SELECT * FROM docs UNION ALL SELECT * FROM newd),
        |sh AS (SELECT DISTINCT id, g FROM (
        |  SELECT id, unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
        |         i -> substr(text, CAST(i AS INT), 5))) AS g FROM alld) u),
        |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |shn AS (SELECT * FROM sh WHERE id >= 2000000),
        |inter AS (
        |  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        |         count(DISTINCT a.g) AS c
        |  FROM shn a JOIN sh b ON a.g = b.g AND a.id <> b.id GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 6) AS jaccard
        |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
        |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.999""".stripMargin,
    // Cluster collapse mirror: q38's exhaustive pair derivation + recursive-
    // CTE connected components (labels seeded with own id, propagated along
    // symmetric pair edges, MIN per vertex = the same min-id canonical rep
    // GraphOps' star contraction converges to) + left join back to all docs.
    "q48_dedup_clusters" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT DISTINCT id, g FROM (
        |    SELECT id,
        |           unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
        |             i -> substr(text, CAST(i AS INT), 5))) AS g
        |    FROM base) u),
        |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.5),
        |verts AS (SELECT DISTINCT v FROM (SELECT id_a AS v FROM pairs UNION SELECT id_b FROM pairs) u),
        |edges_sym AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |cc(v, label) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.dst, c.label FROM cc c JOIN edges_sym e ON e.src = c.v),
        |lab AS (SELECT v, MIN(label) AS keep FROM cc GROUP BY v)
        |SELECT b.id AS doc_id, COALESCE(l.keep, b.id) AS keep_id
        |FROM base b LEFT JOIN lab l ON l.v = b.id""".stripMargin,
    // Full simhash pipeline mirror: md5-derived 64-bit token hash (bit b of
    // the first-16-hex-chars value, b=0 LSB), per-bit majority vote ->
    // signed 64-bit signature (bit 63 set via INT64_MIN: 1<<63 overflows
    // DuckDB's checked shift), 4x16-bit band keys (arithmetic >> equals
    // Java's >>> once masked to 16 bits), bucket self-join, bit_count(xor)
    // Hamming verify <= 3.
    "q39_simhash_neardup" ->
      """WITH base AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20),
        |toks AS (
        |  SELECT id, md5(t.tok) AS hx
        |  FROM base, unnest(regexp_split_to_array(text, '\s+')) AS t(tok) WHERE t.tok <> ''),
        |bits AS (
        |  SELECT id, CAST(b.b AS INT) AS bit,
        |         ((strpos('0123456789abcdef', substr(hx, 16 - CAST(b.b AS INT) // 4, 1)) - 1
        |           >> (CAST(b.b AS INT) % 4)) & 1) AS bv
        |  FROM toks, unnest(range(0, 64)) AS b(b)),
        |votes AS (
        |  SELECT id, bit, SUM(CASE WHEN bv = 1 THEN 1 ELSE -1 END) AS v
        |  FROM bits GROUP BY id, bit),
        |sig AS (
        |  SELECT id, CAST(SUM(CASE WHEN v > 0 THEN
        |           CASE WHEN bit = 63 THEN -9223372036854775808
        |                ELSE (CAST(1 AS BIGINT) << bit) END
        |         ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY id),
        |banded AS (
        |  SELECT id, sig, CAST(b.b AS INT) AS band,
        |         (sig >> (16 * CAST(b.b AS INT))) & 65535 AS key
        |  FROM sig, unnest(range(0, 4)) AS b(b)),
        |cand AS (
        |  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sa, r.sig AS sb
        |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.id < r.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    "q38_minhash_neardup" ->
      """WITH base AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT DISTINCT id, g FROM (
        |    SELECT id,
        |           unnest(list_transform(range(1, greatest(length(text)-4, 1)+1),
        |             i -> substr(text, CAST(i AS INT), 5))) AS g
        |    FROM base) u),
        |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 6) AS jaccard
        |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.5""".stripMargin,
    "q40_embedding_neardup" ->
      """WITH base AS (
        |  SELECT vec_id AS id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id + 1000000 < 1000020),
        |pairs AS (
        |  SELECT l.id AS id_a, r.id AS id_b,
        |         list_cosine_similarity(l.embedding, r.embedding) AS cosine
        |  FROM base l JOIN base r ON l.id < r.id)
        |SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM pairs WHERE cosine >= 0.999""".stripMargin,
    "q41_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |  FROM c, q WHERE query_id <> neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM scored) x WHERE rank <= 10""".stripMargin,
    "q27_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id >= 5 AND vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |  FROM c, q WHERE query_id <> neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM scored) x WHERE rank <= 10""".stripMargin,
    "q49_ann_ivf_indexed" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id >= 10 AND vec_id < 15),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |  FROM c, q WHERE query_id <> neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM scored) x WHERE rank <= 10""".stripMargin,
    "q24_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cosine
        |  FROM c, q WHERE query_id <> neighbor_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM scored) x WHERE rank <= 10""".stripMargin
  )

  /** SQL mirror of TextOps.punctRatio / meanWordLen / qualityScore. */
  private def qualitySql: String = {
    val puncts = Seq(".", ",", "!", "?", ";", ":")
    val cnt = puncts.map(p => occSql("text", p)).mkString(" + ")
    s"""SELECT doc_id,
       |  ROUND(($cnt) / GREATEST(length(text), 1), 6) AS punct_ratio,
       |  ROUND((length(text) - ${occSql("text", " ")}) / ($tokSql), 6) AS mean_word_len,
       |  ROUND(
       |    LEAST(length(text) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * 0.4 +
       |    (CASE WHEN (($cnt) / GREATEST(length(text), 1)) BETWEEN 0.005 AND 0.2
       |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * 0.3 +
       |    LEAST(($enHitsSql) / ($tokSql) * 8.0, CAST(1.0 AS DOUBLE)) * 0.3, 6) AS quality
       |FROM documents""".stripMargin
  }

  private def hitsSql(lang: String): String =
    TextOps.stopwords(lang).map(w => occSql("padded", w)).mkString(" + ")
  private def enHitsSql: String =
    TextOps.stopwords("en").map(w => occSql("(' ' || lower(text) || ' ')", w)).mkString(" + ")

  /** SQL mirror of TextOps.langId's fold (sorted langs, strictly-greater wins). */
  private def langIdSql: String = {
    val langs = TextOps.stopwords.keys.toSeq.sorted // de, en, es, fr
    val scores = langs.map(l => s"(${hitsSql(l)}) AS s_$l").mkString(",\n  ")
    val folds = langs.tail.zipWithIndex.map { case (l, i) =>
      val (prevL, prevB) = if (i == 0) (s"'${langs.head}'", s"s_${langs.head}") else (s"l$i", s"b$i")
      s"CASE WHEN s_$l > $prevB THEN '$l' ELSE $prevL END AS l${i + 1}, CASE WHEN s_$l > $prevB THEN s_$l ELSE $prevB END AS b${i + 1}"
    }
    val n = langs.size - 1
    s"""WITH padded_docs AS (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM documents),
       |scored AS (SELECT doc_id,
       |  $scores
       |FROM padded_docs),
       |f1 AS (SELECT *, ${folds(0)} FROM scored),
       |f2 AS (SELECT *, ${folds(1)} FROM f1),
       |f3 AS (SELECT *, ${folds(2)} FROM f2)
       |SELECT doc_id, CASE WHEN b$n > 0 THEN l$n ELSE 'und' END AS lang_id FROM f3""".stripMargin
  }
}
