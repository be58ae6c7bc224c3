package graft.resolve

import graft.model._
import graft.util.HubSalt
import graft.util.KernelRun.{inRun, CodegenConf}
import graft.versionrange.Resolvers
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Outputs of AP->AA resolution (the reference's `parse` lifecycle, SURVEY §3.2). */
final case class Resolved(aaEdges: Dataset[AaEdge], apEdges: Dataset[ApEdge])

/**
 * ResolveJob: the AP->AA resolution join (J1) — the heart of the reference
 * engine (`Database/Neo4jLinkageParser.java:88-154`), re-expressed as two
 * shuffles instead of 2+2 Cypher round-trips per package:
 *
 *  1. candidate packages: >=1 unresolved incoming AP edge AND >=1 artifact
 *     (the reference's Cypher WHERE EXISTS pair, `:74-76`);
 *  2. distinct (package, rangeSpec) pairs — the *structural* replacement for
 *     the reference's range-representation cache (each spec is classified
 *     once per package instead of once per edge);
 *  3. equi-join those pairs against per-package version lists
 *     (= the reference's per-package version->artifactId map,
 *     `:108-114`), resolve with the range library, explode matches;
 *  4. join matches back to the full AP edge set on (package, spec) to emit
 *     (srcArtifact, dstArtifact), deduplicated — the reference MERGEs AA
 *     edges (`:248`), so duplicates collapse;
 *  5. flip `resolved=true` on every incoming edge of processed packages
 *     (`setIncomingEdgesResolved`, `:252-255`); edges into prototype
 *     packages (no artifacts) stay unresolved.
 *
 * Skew: hub packages (junit/lodash analogues) fan out on the (package, spec)
 * join in step 4, and its hub keys are salted by the engine's one policy
 * ([[HubSalt]], see `saltedFanout`).
 *
 * Why the pipelines have this shape: `aaEdges` is returned lazy and runs
 * in its caller's action, under the caller's conf; the one action resolve
 * runs itself, the hub histogram, runs under [[graft.util.CodegenPolicy]].
 * What keeps the caller's query small is the plan: the resolution is a
 * UDF and an explode inside the join pipeline (a typed mapPartitions cut
 * it in two, with an object deserializer and serializer around it), and
 * the version lists are grouped on internal rows (a `collect_list` is an
 * object hash aggregate with about eight generated projections). The
 * mined inputs are kept rows, so scanning them recomputes nothing.
 */
object ResolveJob {

  /** Per-package version dictionary, (packageId, versions, artifactIds)
    * with the two arrays in step: one grouping of the artifact table, done
    * on Spark's internal rows because a `collect_list` aggregate runs as an
    * object hash aggregate with about eight generated projections of its
    * own (its sort-based fallback included). */
  private def versionDict(spark: SparkSession, artifacts: Dataset[ArtifactRow]): DataFrame = {
    val rows = artifacts.select(col("packageId"), col("version"), col("id")).queryExecution.toRdd
      .map { r => val c = r.copy(); (c.getUTF8String(0), (c.getUTF8String(1), c.getUTF8String(2))) }
      .groupByKey()
      .map { case (pkg, vs) =>
        InternalRow(pkg, new GenericArrayData(vs.map(_._1).toArray[Any]), new GenericArrayData(vs.map(_._2).toArray[Any]))
      }
    Bridge.dataFrame(spark, rows, StructType(Seq(StructField("packageId", StringType),
      StructField("versions", ArrayType(StringType)), StructField("artifactIds", ArrayType(StringType)))))
  }

  /** Distinct (package, repo, spec) triples — the structural replacement for
    * the reference's 5000-entry range-representation cache
    * (`Repositories/VersionRangeResolver.java:207-212`). */
  private def distinctSpecs(spark: SparkSession, edges: Dataset[ApEdge]): DataFrame = {
    import spark.implicits._
    // column projection, not a typed map: the former `.map(e => ...)`
    // deserialized every ApEdge (attrs Map included) just to drop columns,
    // defeating codegen and column pruning on the hottest input (guide §2.3:
    // project before the exchange)
    edges.select($"dstPackageId", $"repo", $"versionRange").distinct()
  }

  /** The artifact ids of `versions` that `spec` matches, by the range
    * library. Errors thrown by pathological specs are isolated per spec
    * (the reference loses the whole package on a throw,
    * `Neo4jLinkageParser.java:143-151`; we keep the package and drop just
    * the spec — documented divergence, safer at scale). */
  private val matchingArtifacts = udf { (repo: String, spec: String, versions: Seq[String], ids: Seq[String]) =>
    val byVersion = versions.zip(ids).toMap
    val matched =
      try Resolvers.findMatchingVersions(repo, spec, byVersion.keys)
      catch { case _: Exception => Set.empty[String] }
    matched.toSeq.map(byVersion)
  }

  /**
   * Shared core of J1/J3: spec triples equi-joined against per-package
   * version dictionaries, resolved with the range library, one
   * (dstPackageId, versionRange, dstArtifactId) row per match. A UDF and an
   * explode, not a typed mapPartitions: the join, the resolution and the
   * fan-out join after it stay one generated pipeline, with no object
   * deserializer and serializer pair around the resolution.
   */
  private def matchSpecs(specs: DataFrame, versionsByPkg: DataFrame): DataFrame =
    specs
      .join(versionsByPkg, specs("dstPackageId") === versionsByPkg("packageId"))
      .select(specs("dstPackageId"), specs("versionRange"),
        explode(matchingArtifacts(specs("repo"), specs("versionRange"),
          versionsByPkg("versions"), versionsByPkg("artifactIds"))).as("dstArtifactId"))

  /**
   * The step-4 fan-out join (matches back to every edge with that
   * (package, spec)), with EXPLICIT hub-key salting (north_star: "salted ...
   * edge partitions with explicit skew handling for hub artifacts") by the
   * engine's one policy, [[HubSalt]], at the session's shuffle width `p`:
   * in a table of more than [[HubSalt.Floor]] edges, a degree histogram
   * finds the hub keys; hub edges take a sub-key from a hash of their
   * source, and the (small) matches side is replicated over a hub's
   * sub-keys only. Unlike AQE skew splitting this also works inside AQE-off
   * contexts and never relies on runtime stats being fresh. A smaller
   * table runs no histogram, and with no hub the salt machinery drops out
   * of the plan.
   */
  private def saltedFanout(spark: SparkSession, edges: DataFrame, edgeBound: Long, p: Int,
                           matches: DataFrame): Dataset[AaEdge] = {
    import spark.implicits._
    val keys = Seq("dstPackageId", "versionRange")
    val hubs = HubSalt(p, edgeBound).hubs(spark, keys.map(StructField(_, StringType)),
      edges.groupBy(keys.map(col): _*).agg(count(lit(1))).queryExecution.toRdd)
    val (many, one) = hubs.fold((edges, matches))(h => (h.salted(edges, $"srcArtifactId"), h.fannedOut(matches)))
    many.join(one, hubs.fold(keys)(_.joinKeys))
      .select($"srcArtifactId", $"dstArtifactId")
      .as[AaEdge]
      .distinct()
  }

  /** Rows of an edge table: from its plan statistics when it was counted
    * (the mined tables are), else one count. The hub policy is sized by
    * it. */
  private def rowCount(edges: Dataset[ApEdge]): Long =
    edges.queryExecution.optimizedPlan.stats.rowCount.fold(edges.count())(_.toLong)

  def run(spark: SparkSession, apEdges: Dataset[ApEdge], artifacts: Dataset[ArtifactRow]): Resolved =
    inRun(spark, "resolve", CodegenConf) { run =>
    import spark.implicits._

    // Column predicate, not a typed lambda: `filter(!_.resolved)`
    // deserialized every ApEdge (attrs Map included) per call site and
    // blocked codegen + filter pushdown on the resolve path's widest input.
    val unresolved = apEdges.filter(!col("resolved"))

    val matches = matchSpecs(distinctSpecs(spark, unresolved), versionDict(spark, artifacts))

    // Fan matches back out to every unresolved edge with that (package,
    // spec), hub keys salted explicitly. MERGE semantics -> distinct.
    val aa = saltedFanout(spark, unresolved.toDF(), rowCount(apEdges), run.confWidth, matches)

    // Candidates actually processed: unresolved incoming edges AND >=1
    // artifact. Needs only the package-id sets — no version lists (the
    // dictionary built for matchSpecs is not recomputed here).
    val processedPkgs = unresolved.select($"dstPackageId").distinct()
      .join(artifacts.select($"packageId").distinct(),
        $"dstPackageId" === $"packageId", "left_semi")
      .withColumnRenamed("dstPackageId", "processedPackageId")
      .withColumn("processed", lit(true))

    val updatedAp = apEdges.toDF()
      .join(processedPkgs, apEdges("dstPackageId") === $"processedPackageId", "left")
      .select(apEdges("srcArtifactId"), apEdges("dstPackageId"), apEdges("repo"),
        apEdges("versionRange"),
        (apEdges("resolved") || coalesce($"processed", lit(false))).as("resolved"),
        apEdges("attrs"))
      .as[ApEdge]

    Resolved(aa, updatedAp)
  }

  /**
   * Incremental re-resolution (J3, update mode): for packages that received
   * new artifacts, re-evaluate previously-resolved incoming AP edges against
   * only the new versions and append the extra AA edges
   * (`Neo4jDatabaseController.java:154-184`).
   */
  def resolveDelta(spark: SparkSession, resolvedApEdges: Dataset[ApEdge],
                   newArtifacts: Dataset[ArtifactRow]): Dataset[AaEdge] =
    inRun(spark, "resolve", CodegenConf) { run =>
    // column predicate (codegen), same reasoning as `run`'s unresolved filter
    val resolved = resolvedApEdges.filter(col("resolved"))
    val matches = matchSpecs(distinctSpecs(spark, resolved), versionDict(spark, newArtifacts))
    saltedFanout(spark, resolved.toDF(), rowCount(resolvedApEdges), run.confWidth, matches)
  }
}
