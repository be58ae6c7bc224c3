package graft.mine

import graft.{CodegenCache, SparkTestHarness}
import graft.gen.SyntheticRepoFiles
import graft.graph.GraphOps
import graft.manifest.ManifestParser
import graft.model._
import graft.resolve.ResolveJob
import graft.versionrange.Resolvers
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end graph tests vs an in-memory oracle (SURVEY §5.2-3): the
 * deterministic synthetic repo-file table is mined/resolved by the Spark
 * jobs AND by a literal single-threaded implementation of the reference
 * semantics; the outputs must agree exactly.
 */
class MineResolveSpec extends AnyFunSuite {

  lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  val cfg = SyntheticRepoFiles.Config(packagesPerEco = 40)
  lazy val files = SyntheticRepoFiles.generateLocal(cfg)
  lazy val filesDs = {
    import spark.implicits._
    spark.createDataset(files)
  }
  lazy val mined = MineJob.run(spark, filesDs)

  /** The oracle: parse every manifest single-threaded, build the expected
    * tables literally the way the reference stores them. */
  lazy val oracleParsed: Seq[RawPackage] =
    files.filter(f => ManifestParser.isManifestPath(f.path))
      .flatMap(f => ManifestParser.parse(f).toOption)

  /** A digest of every column, so a table is computed whole. */
  private def digest(df: DataFrame): Long = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => sort_array(map_entries(col(f.name)))
        case _          => col(f.name)
      }
    }
    df.select(xxhash64(cols: _*).as("h")).agg(coalesce(bit_xor(col("h")), lit(0L))).first().getLong(0)
  }

  test("one ingest pass fits the codegen class cache") {
    // Spark keeps at most 100 compiled classes, and a whole-stage class takes
    // two entries (driver and task class loaders). A pass that needs more
    // recompiles on every run. This pass compiled 150 classes when mining
    // ran typed flatMaps and sort aggregates, and 67 after.
    //
    // The input is an RDD scan, as a file source would be: the optimizer
    // folds work into a local relation's rows on the driver.
    val input = filesDs.toDF().localCheckpoint(true).as[RepoFile]
    val compiled = CodegenCache.compiledFromEmpty {
      val m = MineJob.run(spark, input)
      Seq(m.packages.toDF(), m.artifacts.toDF(), m.apEdges.toDF(), m.ppEdges.toDF(), m.quarantine.toDF())
        .foreach(digest)
      digest(ResolveJob.run(spark, m.apEdges, m.artifacts).aaEdges.toDF())
      digest(GraphOps.indexEdges(spark, m.ppEdges.toDF(), "srcPackageId", "dstPackageId")._1)
      m.release()
    }
    assert(compiled <= 90, s"one ingest pass compiled $compiled classes")
  }

  test("generator is deterministic and partition-independent") {
    val local = files.map(f => (f.repo, f.path, f.commit)).toSet
    val distributed = SyntheticRepoFiles.generate(spark, cfg)
      .collect().map(f => (f.repo, f.path, f.commit)).toSet
    assert(local == distributed)
    assert(files.nonEmpty)
  }

  test("sha256 invariant: engine output matches per-row content hash") {
    val fromSpark = MineJob.contentInvariants(filesDs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getString(3)).toMap
    for (f <- files.take(200)) {
      assert(fromSpark((f.repo, f.path, f.commit)) == ManifestParser.sha256Hex(f.content))
    }
  }

  test("mined artifacts match the oracle") {
    val expected = oracleParsed.flatMap { p =>
      p.artifacts.map(a => Ids.artifactId(p.eco, p.name, a.version))
    }.toSet
    val got = mined.artifacts.collect().map(_.id).toSet
    assert(got == expected)
    // versionCompare key spot checks against the reference rule
    val byId = mined.artifacts.collect().map(a => a.id -> a.versionCompare).toMap
    for ((id, vc) <- byId.take(50)) {
      val version = id.split(":").last
      assert(vc == VersionCompare.key(version), s"versionCompare of $version")
    }
  }

  test("AP edges match the oracle (duplicates preserved)") {
    val expected = oracleParsed.flatMap { p =>
      for { a <- p.artifacts; d <- a.deps }
        yield (Ids.artifactId(p.eco, p.name, a.version), Ids.packageId(p.eco, d.name), d.versionRange)
    }.groupBy(identity).view.mapValues(_.size).toMap
    val got = mined.apEdges.collect()
      .map(e => (e.srcArtifactId, e.dstPackageId, e.versionRange))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == expected)
  }

  test("PP edges are the distinct package pairs") {
    val expected = oracleParsed.flatMap { p =>
      for { a <- p.artifacts; d <- a.deps }
        yield (Ids.packageId(p.eco, p.name), Ids.packageId(p.eco, d.name))
    }.toSet
    val got = mined.ppEdges.collect().map(e => (e.srcPackageId, e.dstPackageId)).toSet
    assert(got == expected)
  }

  test("prototype packages: referenced-but-unmined targets, mined wins") {
    val minedIds = oracleParsed.map(p => Ids.packageId(p.eco, p.name)).toSet
    val referenced = oracleParsed.flatMap(p => p.artifacts.flatMap(_.deps.map(d => Ids.packageId(p.eco, d.name)))).toSet
    val expectedProtos = referenced -- minedIds
    val pkgs = mined.packages.collect()
    assert(pkgs.filter(_.isPrototype).map(_.id).toSet == expectedProtos)
    assert(pkgs.filter(p => minedIds.contains(p.id)).forall(p => !p.isPrototype && p.name != "Prototype Package"))
    assert(pkgs.map(_.id).distinct.length == pkgs.length, "package ids unique")
  }

  test("quarantine captures malformed manifests without failing the job") {
    val expectedBad = files.count(f =>
      ManifestParser.isManifestPath(f.path) && ManifestParser.parse(f).isLeft)
    assert(expectedBad > 0, "generator should produce malformed manifests")
    assert(mined.quarantine.count() == expectedBad)
  }

  /** Whether `aa`'s plan joins on a hub sub-key: the salted fan-out. */
  private def salted(aa: Dataset[AaEdge]): Boolean = aa.queryExecution.optimizedPlan.exists {
    case j: Join => j.condition.exists(_.references.exists(_.name == "salt"))
    case _ => false
  }

  test("AA resolution matches a literal reference-semantics oracle") {
    val resolved = ResolveJob.run(spark, mined.apEdges, mined.artifacts)
    // the corpus is under the 150,000-row floor below which no join salts
    assert(!salted(resolved.aaEdges))
    val got = resolved.aaEdges.collect().map(e => (e.srcArtifactId, e.dstArtifactId)).toSet

    // Oracle: per target package, version->artifact map, per incoming edge
    // run the resolver, emit pairs (MERGE semantics -> set).
    val artifactsByPkg = oracleParsed.flatMap { p =>
      p.artifacts.map(a => (Ids.packageId(p.eco, p.name), a.version, Ids.artifactId(p.eco, p.name, a.version)))
    }.groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val expected = (for {
      p <- oracleParsed
      a <- p.artifacts
      d <- a.deps
      targetPkg = Ids.packageId(p.eco, d.name)
      versions <- artifactsByPkg.get(targetPkg).toSeq
      m <- (try Resolvers.findMatchingVersions(p.eco, d.versionRange, versions.keys)
            catch { case _: Exception => Set.empty[String] })
    } yield (Ids.artifactId(p.eco, p.name, a.version), versions(m))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "resolution should produce AA edges")

    // resolved flags: edges into packages with artifacts flip, prototypes stay.
    val ap = resolved.apEdges.collect()
    val withArtifacts = artifactsByPkg.keySet
    assert(ap.filter(e => withArtifacts.contains(e.dstPackageId)).forall(_.resolved))
    assert(ap.filter(e => !withArtifacts.contains(e.dstPackageId)).forall(!_.resolved))
  }

  test("a hub (package, spec) key above the salting floor resolves exactly through the salted join") {
    // 170,000 AP edges, 160,000 of them on one (package, spec) key: more
    // than the 150,000-row floor alone, so the fan-out join salts it. The
    // rest spread over 40 packages and three specs.
    val n = 170000L
    val edge: Long => ApEdge = i => {
      val (pkg, spec) =
        if (i % 17 != 0) ("npm:pkg0", "^1.0.0") else (s"npm:pkg${1 + i % 40}", Seq(">=1.0.0", "~1.5.0", "<2.0.0")((i % 3).toInt))
      ApEdge(s"npm:src${i % 4000}:1.0.0", pkg, "npm", spec, resolved = false, Map.empty)
    }
    val artifacts = for (p <- 0 to 40; v <- Seq("1.0.0", "1.5.0", "2.0.0"))
      yield ArtifactRow(s"npm:pkg$p:$v", s"npm:pkg$p", v, VersionCompare.key(v), Map.empty)
    val aa = ResolveJob.run(spark, spark.range(n).map(i => edge(i)), artifacts.toDS()).aaEdges
    assert(salted(aa), "the hub key did not take the salted join")
    val got = aa.collect().map(e => (e.srcArtifactId, e.dstArtifactId)).toSet

    // driver-side fold: each distinct (package, spec) resolved once by the
    // range library, then fanned out to its edges
    val byPkg = artifacts.groupBy(_.packageId).view.mapValues(_.map(a => a.version -> a.id).toMap).toMap
    val matches = scala.collection.mutable.Map.empty[(String, String), Set[String]]
    val expected = (0L until n).iterator.map(edge).flatMap { e =>
      val versions = byPkg.getOrElse(e.dstPackageId, Map.empty[String, String])
      matches.getOrElseUpdate((e.dstPackageId, e.versionRange),
        Resolvers.findMatchingVersions(e.repo, e.versionRange, versions.keys).map(versions))
        .map(e.srcArtifactId -> _)
    }.toSet
    val (missing, extra) = (expected -- got, got -- expected)
    assert(missing.isEmpty && extra.isEmpty,
      s"${missing.size} AA edges missing (${missing.take(3)}), ${extra.size} extra (${extra.take(3)})")
    assert(got.count(_._2.startsWith("npm:pkg0:")) == 8000)
  }

  test("update mode: anti-join skips known artifacts, delta re-resolution completes AA") {
    // Split the generated table: first mine only maven rows, then update with everything.
    val firstDs = spark.createDataset(files.filter(_.lang == "java"))
    val first = MineJob.run(spark, firstDs)
    val firstResolved = ResolveJob.run(spark, first.apEdges, first.artifacts)

    val all = mined
    // J2: new artifacts = all minus known
    val newArtifacts = all.artifacts.join(first.artifacts.select($"id"), Seq("id"), "left_anti")
      .as[ArtifactRow]
    val knownIds = first.artifacts.collect().map(_.id).toSet
    assert(newArtifacts.collect().forall(a => !knownIds.contains(a.id)))

    // J3: re-resolving edges against new artifacts never produces an edge
    // that full resolution wouldn't.
    val delta = ResolveJob.resolveDelta(spark, firstResolved.apEdges, newArtifacts)
    val full = ResolveJob.run(spark, all.apEdges, all.artifacts).aaEdges
      .collect().map(e => (e.srcArtifactId, e.dstArtifactId)).toSet
    assert(delta.collect().map(e => (e.srcArtifactId, e.dstArtifactId)).forall(full.contains))
  }

  test("J3 delta re-resolution completes AA edges when a package gains versions") {
    // Simulate "junit released new versions": resolve with HALF the artifacts
    // of every package, then feed the held-back artifacts through J3. The
    // union of first-pass AA + delta AA must equal full resolution restricted
    // to the packages whose incoming edges were resolved in the first pass.
    val allArtifacts = mined.artifacts
    val held = allArtifacts.filter(a => math.abs(a.id.hashCode) % 2 == 0)
    val kept = allArtifacts.filter(a => math.abs(a.id.hashCode) % 2 == 1)

    val firstPass = ResolveJob.run(spark, mined.apEdges, kept)
    val delta = ResolveJob.resolveDelta(spark, firstPass.apEdges, held)
    val deltaSet = delta.collect().map(e => (e.srcArtifactId, e.dstArtifactId)).toSet
    assert(deltaSet.nonEmpty, "held-back versions should resolve via J3")

    val firstSet = firstPass.aaEdges.collect().map(e => (e.srcArtifactId, e.dstArtifactId)).toSet
    val fullSet = ResolveJob.run(spark, mined.apEdges, allArtifacts).aaEdges
      .collect().map(e => (e.srcArtifactId, e.dstArtifactId)).toSet
    // packages processed in the first pass = those with >=1 kept artifact
    val processedPkgs = kept.collect().map(_.packageId).toSet
    val fullForProcessed = fullSet.filter { case (_, dst) =>
      processedPkgs.contains(dst.split(":").dropRight(1).mkString(":"))
    }
    assert((firstSet ++ deltaSet) == fullForProcessed)
  }

  test("fixed-spec face classification: resolver throw counter is ZERO on the corpus (no silent shrinkage)") {
    // q46/q47 exclude specs the resolver THROWS on (both oracle sides agree,
    // so the hash still matches) — but a throw on a corpus-reachable spec
    // would silently shrink the faces' coverage. The accumulator makes that
    // visible; on the current generator grammar it must be exactly 0.
    val n = graft.queries.Queries.queries("q46_resolve_fixed")(spark, "sf0.001").count()
    assert(n > 0L)
    assert(graft.queries.Queries.classifierThrowCount(spark).value == 0L,
      "resolver classification threw on corpus-reachable specs")
  }

  test("range-grammar faces (q53 nuget, q54 maven, q57 npm, q58 pypi) are non-empty subsets of the full resolve") {
    val full = graft.queries.Queries.queries("q35_resolve_aa")(spark, "sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    for (q <- Seq("q53_resolve_nuget_ranges", "q54_resolve_maven_ranges",
                  "q57_resolve_npm_ranges", "q58_resolve_pypi_ranges")) {
      val pairs = graft.queries.Queries.queries(q)(spark, "sf0.001")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs.nonEmpty, s"$q produced no pairs")
      assert(pairs.subsetOf(full), s"$q must be a subset of the full AA edge set")
    }
  }

  test("npm/pypi SQL-mirror derivation: exhaustive (spec, version) matrix vs the real resolvers") {
    // The q57/q58 oracles collapse the resolvers' composite predicates to
    // lexicographic triple compares (see npmRangeSql scaladoc). This pins
    // that derivation engine-side: for EVERY distinct corpus range-arm spec
    // x EVERY distinct version of its ecosystem, the real resolver verdict
    // must equal the mirror predicate reimplemented literally.
    def lex(a: Seq[Int], b: Seq[Int]): Int =
      a.zip(b).collectFirst { case (x, y) if x != y => x.compare(y) }.getOrElse(0)
    def trip(s: String): Seq[Int] = s.split("\\.").toSeq.map(_.toInt)
    def npmMirror(n: String, v: Seq[Int]): Boolean = n match {
      case "x" => true
      case s if s.matches("\\^\\d+\\.\\d+\\.\\d+") =>
        val f = trip(s.drop(1)); v(0) == f(0) && lex(v.drop(1), f.drop(1)) >= 0
      case s if s.matches("~\\d+\\.\\d+\\.\\d+") =>
        val f = trip(s.drop(1)); v(0) == f(0) && v(1) == f(1) && v(2) >= f(2)
      case s if s.matches(">=\\d+\\.\\d+") => lex(v.take(2), trip(s.drop(2))) >= 0
      case s if s.matches("<\\d+") => v(0) < s.drop(1).toInt
      case s if s.matches(">=\\d+\\.\\d+\\.\\d+,<\\d+\\.\\d+\\.\\d+") =>
        val Array(a, b) = s.split(",")
        lex(v, trip(a.drop(2))) >= 0 && lex(v, trip(b.drop(1))) < 0
      case s if s.matches("<=\\d+\\.\\d+\\.\\d+\\|\\|>\\d+\\.\\d+\\.\\d+") =>
        val Array(a, b) = s.split("\\|\\|")
        lex(v, trip(a.drop(2))) <= 0 || lex(v, trip(b.drop(1))) > 0
      case _ => false
    }
    def pypiMirror(n: String): Boolean = n == ""
    val aps = mined.apEdges.collect()
    val arts = mined.artifacts.collect()
    var checked = 0
    for (repo <- Seq("npm", "pypi")) {
      val r = graft.versionrange.Resolvers.forRepo(repo)
      val specs = aps.filter(e => e.repo == repo && r.isValid(e.versionRange) && r.isRange(e.versionRange))
        .map(_.versionRange).distinct
      val versions = arts.filter(_.packageId.startsWith(repo + ":")).map(_.version).distinct
      assert(specs.nonEmpty && versions.nonEmpty)
      for (s <- specs; v <- versions) {
        val lib = r.versionInRange(s, v)
        // the oracles' normalization chain (spaces, -, @, *, quotes)
        val n = s.replaceAll(" ", "").split("[-]")(0).split("[@]")(0)
          .replaceAll("(\\*|X)", "x").replaceAll("(\"|\')", "")
        val sqlm = if (repo == "npm") npmMirror(n, trip(v)) else pypiMirror(n)
        assert(lib == sqlm, s"mirror drift: repo=$repo spec='$s' version=$v lib=$lib sql=$sqlm")
        checked += 1
      }
    }
    assert(checked > 500, s"matrix unexpectedly small: $checked")
  }
}
