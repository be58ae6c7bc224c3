package graft.mine

import graft.manifest.ManifestParser
import graft.model._
import graft.util.CodegenPolicy
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** A successfully parsed manifest row, pre-normalization. */
final case class ParsedManifest(repo: String, path: String, commit: String,
                                contentSha: String, pkg: RawPackage)

/**
 * One manifest's parse, as the single row type the parse emits: `pkg` is
 * set for a parsed manifest, `errorClass` and `message` for a quarantined
 * one. Top-level so generated code can reach its constructor.
 */
final case class ParseOutcome(repo: String, path: String, commit: String, contentSha: String,
                              pkg: RawPackage, errorClass: String, message: String)

/**
 * Outputs of the mining stage (the reference's `start` lifecycle, SURVEY §3.1).
 * The parse, `apEdges`, `artifacts` and `ppEdges` are computed once and kept
 * as persisted rows (`kept`); `parsed`, `quarantine` and `packages` read
 * them. The caller owns those rows and frees them with [[release]] once it
 * has consumed the tables; until then they live for the session.
 */
final case class Mined(packages: Dataset[PackageRow],
                       artifacts: Dataset[ArtifactRow],
                       apEdges: Dataset[ApEdge],
                       ppEdges: Dataset[PpEdge],
                       quarantine: Dataset[QuarantineRow],
                       parsed: Dataset[ParsedManifest],
                       kept: Seq[RDD[_]] = Nil) {
  /** Unpersists the rows this mining run kept. The tables must not be used
    * afterwards. */
  def release(): Unit = kept.foreach(_.unpersist(false))
}

/**
 * MineJob: repo-file table -> normalized vertex/edge tables.
 *
 * One declarative plan replaces the reference's 3-stage Akka pipeline
 * (`Application/MinerScheduler.java:79-197`): manifest filter (pushdown-able
 * column predicate) -> typed mapPartitions parse with per-row error isolation
 * (T3: a bad manifest quarantines, never fails the job) -> flat
 * vertex/edge Datasets with MERGE-equivalent dedup.
 *
 * Why the pipelines have this shape: at small and medium sizes a mining run
 * costs Spark's fixed per-job floor plus compiling its generated code, and
 * Spark keeps at most 100 compiled classes (see [[CodegenPolicy]]). Every
 * distinct pipeline is at least one class, and a table recomputed inside a
 * later query, at another stage position, is another. So:
 *  - the parse emits ONE row type, [[ParseOutcome]], through one object
 *    serializer; `parsed` and `quarantine` are column filters over it, not
 *    typed flatMaps (each is a deserializer plus a serializer of 1,000 to
 *    2,000 generated lines);
 *  - every table a later query reads again (the parse, `apEdges`,
 *    `artifacts`, `ppEdges`: resolve, the prototype stubs, the vertex
 *    dictionary) is computed here once, under the codegen policy, and kept
 *    as persisted internal rows. A scan of them is part of its reader's
 *    pipeline; a columnar table cache would add a generated column
 *    accessor and a batch filter for every column set read, and its
 *    materializing count two generated stages;
 *  - the three keyed reductions — one artifact row per id, one package row
 *    per id, the distinct PP pairs — are RDD reductions over internal rows.
 *    `dropDuplicates` or `max_by` over rows that hold a map run as sort
 *    aggregates (sort stages plus about eight generated projections each),
 *    a `collect_list` pick as an object hash aggregate with about as many;
 *    a reduce by key generates nothing;
 *  - `packages` is ONE reduction over mined rows and prototype stubs
 *    together (a mined row beats a stub), not a mined-package aggregate
 *    plus an anti-join that needs the mined ids a second time.
 * Only `packages` stays lazy: nothing in the engine reads it twice.
 */
object MineJob {

  /** Column-level manifest predicate — kept as Column ops (not a UDF) so
    * Catalyst can push it into the parquet/Iceberg scan. */
  def manifestFilter(pathCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val base = element_at(split(pathCol, "/"), -1)
    base === "package.json" || base === "pom.xml" || base === "requirements.txt" ||
      base === "build.gradle" || base === "build.gradle.kts" ||
      (base.endsWith(".json") && (pathCol.contains("nuget/") || pathCol.contains("pypi/")))
  }

  /** Parse with per-element error isolation (reference T3,
    * `MinerScheduler.java:108-112,125-129`): failures become quarantine rows. */
  private def parseOne(f: RepoFile): ParseOutcome = ManifestParser.parse(f) match {
    case Right(pkg) => ParseOutcome(f.repo, f.path, f.commit, ManifestParser.sha256Hex(f.content), pkg, null, null)
    case Left(q)    => ParseOutcome(q.repo, q.path, q.commit, q.contentSha, null, q.errorClass, q.message)
  }

  /** The manifests of a repo-file table, each parsed into one
    * [[ParseOutcome]]: the parse of [[run]] and of the streaming mine. */
  private[graft] def parseManifests(repoFiles: Dataset[RepoFile]): Dataset[ParseOutcome] = {
    import repoFiles.sparkSession.implicits._
    repoFiles.filter(manifestFilter(col("path"))).mapPartitions(_.map(parseOne))
  }

  /** One row per (manifest, release) of parsed outcomes. */
  private[graft] def releasesOf(parsed: DataFrame): DataFrame =
    parsed.select(col("pkg.eco").as("eco"), col("pkg.name").as("pname"), explode(col("pkg.artifacts")).as("a"))

  private val pkgId = concat(col("eco"), lit(":"), col("pname"))

  /** One [[ArtifactRow]]-shaped row per release, repeats included; ids are
    * the same concat the Ids helpers produce, and the version key is the
    * SAME function — VersionCompareKey.of codegens a direct call to
    * VersionCompare.key. */
  private[graft] def artifactsOf(releases: DataFrame): DataFrame = releases.select(
    concat(pkgId, lit(":"), col("a.version")).as("id"),
    pkgId.as("packageId"),
    col("a.version").as("version"),
    graft.functions.VersionCompareKey.of(col("a.version")).as("versionCompare"),
    col("a.attrs").as("attrs"))

  /** `df`'s rows in Spark's internal format, copied out of the plan's
    * reused row buffers. */
  private def rowsOf(df: Dataset[_]): RDD[InternalRow] = df.queryExecution.toRdd.map(_.copy())

  /**
   * One row per value of the first column, the row `prefer(candidate,
   * kept)` picks, as a reduce by key with a map-side combine. The reduce
   * keeps its input's partition count.
   */
  private def onePerKey(df: DataFrame)(prefer: (InternalRow, InternalRow) => Boolean): RDD[InternalRow] =
    rowsOf(df).map(r => (r.getUTF8String(0), r))
      .reduceByKey((kept, c) => if (prefer(c, kept)) c else kept)
      .values

  /** The package precedence over (id, name, repo, isPrototype, attrs, k, l)
    * rows: a mined row beats a stub, then the higher (k, l) wins, compared
    * as Spark compares strings. */
  private def minedBeats(c: InternalRow, kept: InternalRow): Boolean =
    if (c.getBoolean(3) != kept.getBoolean(3)) kept.getBoolean(3)
    else {
      val byKey = c.getUTF8String(5).compareTo(kept.getUTF8String(5))
      if (byKey != 0) byKey > 0 else c.getUTF8String(6).compareTo(kept.getUTF8String(6)) > 0
    }

  def run(spark: SparkSession, repoFiles: Dataset[RepoFile]): Mined = CodegenPolicy(spark) {
    import spark.implicits._
    val kept = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    // persisted and counted before any consumer: later queries read the
    // rows from several independently-submitted jobs, and RDD block loading
    // has no cross-job compute lock, so unmaterialized rows are computed once
    // per reader (up to 5x); the count also sizes the table for the planner
    def keep(rows: RDD[InternalRow], schema: StructType): DataFrame = {
      kept += rows.persist(StorageLevel.MEMORY_AND_DISK)
      Bridge.dataFrame(spark, rows, schema, Some(BigInt(rows.count())))
    }

    val parse = parseManifests(repoFiles)
    val outcomes = keep(rowsOf(parse), parse.schema)
    val pm = outcomes.filter(col("pkg").isNotNull)
    val parsed = pm.select($"repo", $"path", $"commit", $"contentSha", $"pkg").as[ParsedManifest]
    val quarantine = outcomes.filter(col("pkg").isNull)
      .select($"repo", $"path", $"commit", $"errorClass", $"message", $"contentSha").as[QuarantineRow]

    val releases = releasesOf(pm)

    // AP edges: duplicates allowed by design (reference CREATE-not-MERGE,
    // `Neo4jDatabaseController.java:129`). `resolved=false` matches the
    // initial edge state (`Model/Artifact.java:48`).
    val ap = releases
      .select(col("eco"), col("pname"), col("a.version").as("version"), explode(col("a.deps")).as("dep"))
      .select(
        concat(pkgId, lit(":"), col("version")).as("srcArtifactId"),
        concat(col("eco"), lit(":"), col("dep.name")).as("dstPackageId"),
        col("eco").as("repo"),
        col("dep.versionRange").as("versionRange"),
        lit(false).as("resolved"),
        col("dep.attrs").as("attrs"))
    val apEdges = keep(rowsOf(ap), ap.schema).as[ApEdge]

    // Artifacts: one row per (package, version); MERGE-on-id semantics, the
    // first row kept per id (duplicate versions can only come from
    // identical rows).
    val art = artifactsOf(releases)
    val artifacts = keep(onePerKey(art)((_, _) => false), art.schema).as[ArtifactRow]

    // PP edges: one edge per package pair across all versions
    // (`Neo4jDatabaseController.java:103-117` computes the target set once);
    // binary rows compare by their bytes, so a row distinct is exact.
    val pp = releases
      .select(col("eco"), pkgId.as("srcPackageId"), explode(col("a.deps.name")).as("dep"))
      .select(col("srcPackageId"), concat(col("eco"), lit(":"), col("dep")).as("dstPackageId"))
    val ppEdges = keep(rowsOf(pp).distinct(), pp.schema).as[PpEdge]

    // Packages with precedence dedup, in one reduction over two kinds of
    // candidate rows:
    //  - mined rows: for multi-row packages (maven/nuget emit one manifest
    //    per version) the row with the highest `latest` version key wins —
    //    the moral equivalent of the reference's repeated MERGE ... SET
    //    p=$props upserts — ordered by (key, latest), the first row kept
    //    on a tie;
    //  - prototype stubs for every referenced target
    //    (`Neo4jDatabaseController.java:118-120`); a hub target's repeats
    //    collapse in the map-side combine, and any mined row beats a stub
    //    (the reference's name != 'Prototype Package' guard).
    val latest = coalesce(try_element_at(col("pkg.attrs"), lit("latest")), lit(""))
    val mined = pm.select(concat(col("pkg.eco"), lit(":"), col("pkg.name")).as("id"),
      col("pkg.name").as("name"), col("pkg.eco").as("repo"), lit(false).as("isPrototype"),
      col("pkg.attrs").as("attrs"), graft.functions.VersionCompareKey.of(latest).as("k"), latest.as("l"))
    val stubs = apEdges.select(col("dstPackageId").as("id"), lit("Prototype Package").as("name"),
      col("repo"), lit(true).as("isPrototype"), typedLit(Map.empty[String, String]).as("attrs"),
      lit("").as("k"), lit("").as("l"))
    val candidates = mined.unionByName(stubs)
    val packages = Bridge.dataFrame(spark, onePerKey(candidates)(minedBeats), candidates.schema)
      .select(col("id"), col("name"), col("repo"), col("isPrototype"), col("attrs"))
      .as[PackageRow]

    Mined(packages, artifacts, apEdges, ppEdges, quarantine, parsed, kept.toSeq)
  }

  /** Per-row invariant vs the reference: sha256 of the manifest content,
    * computed with the built-in codegen'd sha2 (SURVEY §1.5). */
  def contentInvariants(repoFiles: Dataset[RepoFile]): DataFrame =
    repoFiles.select(col("repo"), col("path"), col("commit"),
      sha2(col("content"), 256).as("content_sha"))
}
