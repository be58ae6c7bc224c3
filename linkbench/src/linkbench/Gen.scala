package linkbench

import graft.model.RepoFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The benchmark's own input generators. Every value is a pure function of
 * the seed and an index, so one seed always gives the same tables, however
 * Spark partitions the work. They are deliberately independent of the
 * engine's `graft.gen` generators, so that editing those cannot change a
 * workload.
 */
object Gen {

  /** splitmix64 over a sequence of words. */
  def mix(parts: Long*): Long = {
    var z = 0x2545F4914F6CDD1DL
    for (p <- parts) {
      z += p * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
    }
    z
  }
  private def u01(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
  private def pick(h: Long, n: Int): Int = Math.floorMod(h, n.toLong).toInt

  // ------------------------------------------------------------ repo files

  val Ecos: Seq[String] = Seq("npm", "pypi", "maven", "nuget")

  /** Shape of the repo-file corpus: per-ecosystem package universes, 1 to
    * MaxVersions releases, 0 to MaxDeps dependencies per release, malformed
    * manifests, dangling dependency targets, hub targets drawn from a cubed
    * uniform (Zipf-like), and non-manifest noise files. */
  final case class Corpus(pkgsPerEco: Int, seed: Long) {
    def noiseFiles: Int = pkgsPerEco / 2
  }
  val MaxVersions = 8
  val MaxDeps = 6
  val DanglingShare = 0.05
  val MalformedShare = 0.02

  private def ecoId(eco: String): Long = Ecos.indexOf(eco).toLong + 1

  def pkgName(eco: String, i: Int): String = eco match {
    case "npm"   => s"node-mod-$i"
    case "pypi"  => s"pylib$i"
    case "maven" => s"org.bench.g${i % 61}:art-$i"
    case _       => s"Bench.Pkg$i"
  }

  def versions(c: Corpus, eco: String, i: Int): Seq[String] = {
    val n = 1 + pick(mix(c.seed, ecoId(eco), i, 1), MaxVersions)
    (0 until n).map(v => s"${1 + v / 3}.${v % 3}.${pick(mix(c.seed, ecoId(eco), i, 2, v), 5)}")
  }

  private def v3(h: Long) = s"${1 + pick(mix(h, 1), 3)}.${pick(mix(h, 2), 3)}.${pick(mix(h, 3), 5)}"
  private def v2(h: Long) = s"${1 + pick(mix(h, 4), 3)}.${pick(mix(h, 5), 3)}"

  /** A range spec from the ecosystem's grammar; a few never resolve. */
  def range(eco: String, h: Long): String = {
    val r = pick(mix(h, 9), 20)
    eco match {
      case "npm" => Seq(s"^${v3(h)}", s"~${v3(h)}", s">=${v2(h)}", s"${v2(h)}.x", "*", v3(h),
        s">=${v3(h)},<${1 + pick(mix(h, 7), 4)}.0.0", s"<${1 + pick(mix(h, 8), 3)}", "latest")(r % 9)
      case "pypi" => Seq(s">=${v3(h)}", s"==${v3(h)}", s"~=${v2(h)}", s"<${1 + pick(mix(h, 8), 3)}", "")(r % 5)
      case "maven" => Seq(v3(h), s"[${v3(h)}]", s"[${v2(h)},${1 + pick(mix(h, 7), 4)}.0)", s"(,${v3(h)}]",
        s"[${v3(h)},)", "${project.version}")(r % 6)
      case _ => Seq(s"[${v3(h)},${1 + pick(mix(h, 7), 4)}.0)", v3(h), s"[${v3(h)}]", s"${1 + pick(mix(h, 8), 3)}.*", "*")(r % 5)
    }
  }

  /** (target name, range) pairs of one release. */
  def deps(c: Corpus, eco: String, i: Int, version: String): Seq[(String, String)] = {
    val n = pick(mix(c.seed, ecoId(eco), i, 3, version.hashCode), MaxDeps + 1)
    (0 until n).map { d =>
      val h = mix(c.seed, ecoId(eco), i, 4, version.hashCode, d)
      val target =
        if (u01(mix(h, 5)) < DanglingShare) {
          val g = s"ghost-${pick(h, 40)}"
          if (eco == "maven") s"org.bench.ghost:$g" else g
        } else {
          val u = u01(mix(h, 6))
          var t = math.min(c.pkgsPerEco - 1, (u * u * u * c.pkgsPerEco).toInt)
          if (t == i) t = (t + 1) % c.pkgsPerEco
          pkgName(eco, t)
        }
      (target, range(eco, h))
    }.distinctBy(_._1)
  }

  private def commit(parts: Long*): String = f"${mix(parts: _*)}%016x${mix(parts :+ 77L: _*)}%016x".take(40)

  private def content(c: Corpus, eco: String, i: Int, version: Option[String]): String = {
    val name = pkgName(eco, i)
    def quoted(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    eco match {
      case "npm" =>
        val vs = versions(c, eco, i)
        val blocks = vs.map { v =>
          val (dev, main) = deps(c, eco, i, v).partition { case (t, _) => pick(mix(c.seed, i, t.hashCode, 10), 4) == 0 }
          def obj(ds: Seq[(String, String)]) = ds.map { case (t, r) => s"${quoted(t)}: ${quoted(r)}" }.mkString("{", ", ", "}")
          s"""${quoted(v)}: {"dependencies": ${obj(main)}, "devDependencies": ${obj(dev)}}"""
        }
        s"""{"name": ${quoted(name)}, "dist-tags": {"latest": ${quoted(vs.last)}}, "versions": {${blocks.mkString(", ")}}}"""
      case "pypi" =>
        val vs = versions(c, eco, i)
        val reqs = deps(c, eco, i, vs.last).map { case (t, r) =>
          pick(mix(c.seed, i, t.hashCode, 11), 3) match {
            case 0 if r.nonEmpty => quoted(s"$t ($r)")
            case 1 => quoted(s"$t ; extra == 'test'")
            case _ => quoted(s"$t$r")
          }
        }
        val rel = vs.map(v => s"""${quoted(v)}: [{"filename": ${quoted(s"$name-$v.tar.gz")}}]""")
        s"""{"info": {"name": ${quoted(name)}, "version": ${quoted(vs.last)}, "requires_dist": [${reqs.mkString(", ")}]}, "releases": {${rel.mkString(", ")}}}"""
      case "maven" =>
        val v = version.get
        val Array(g, a) = name.split(":", 2)
        val ds = deps(c, eco, i, v).map { case (t, r) =>
          val Array(dg, da) = t.split(":", 2)
          val opt = if (pick(mix(c.seed, i, t.hashCode, 12), 9) == 0) "<optional>true</optional>" else ""
          s"    <dependency><groupId>$dg</groupId><artifactId>$da</artifactId><version>$r</version>$opt</dependency>"
        }
        s"""<?xml version="1.0" encoding="UTF-8"?>
           |<project>
           |  <groupId>$g</groupId>
           |  <artifactId>$a</artifactId>
           |  <version>$v</version>
           |  <dependencies>
           |${ds.mkString("\n")}
           |  </dependencies>
           |</project>""".stripMargin
      case _ =>
        val v = version.get
        val ds = deps(c, eco, i, v).map { case (t, r) =>
          s"""{"id": ${quoted(t)}, "range": ${quoted(r)}, "@type": "PackageDependency"}"""
        }
        s"""{"id": ${quoted(name)}, "version": ${quoted(v)}, "authors": "bench", "published": "2025-0${1 + pick(mix(c.seed, i, v.hashCode), 9)}-01T00:00:00Z", "dependencyGroups": [{"dependencies": [${ds.mkString(", ")}]}]}"""
    }
  }

  def isMalformed(c: Corpus, eco: String, i: Int): Boolean = u01(mix(c.seed, ecoId(eco), i, 13)) < MalformedShare

  /** All rows of one package: npm/pypi carry every release in one registry
    * document; maven/nuget have one manifest per release. A malformed
    * package has its first manifest cut in half. */
  def packageFiles(c: Corpus, eco: String, i: Int): Seq[RepoFile] = {
    val repo = s"git.example/$eco/${pkgName(eco, i).replace(':', '_')}"
    def cut(s: String, first: Boolean) = if (first && isMalformed(c, eco, i)) s.substring(0, s.length / 2) else s
    eco match {
      case "npm" => Seq(RepoFile(repo, "package.json", commit(c.seed, 1, i), "javascript", cut(content(c, eco, i, None), first = true)))
      case "pypi" => Seq(RepoFile(repo, s"pypi/${pkgName(eco, i)}.json", commit(c.seed, 2, i), "python", cut(content(c, eco, i, None), first = true)))
      case "maven" => versions(c, eco, i).zipWithIndex.map { case (v, k) =>
        RepoFile(repo, "pom.xml", commit(c.seed, 3, i, k), "java", cut(content(c, eco, i, Some(v)), k == 0)) }
      case _ => versions(c, eco, i).zipWithIndex.map { case (v, k) =>
        RepoFile(repo, s"nuget/${pkgName(eco, i)}.$v.json", commit(c.seed, 4, i, k), "csharp", cut(content(c, eco, i, Some(v)), k == 0)) }
    }
  }

  private val noisePaths = Array("README.md", "src/main.rs", "Makefile", "docs/index.md", "LICENSE", "setup.cfg")

  def noiseFile(c: Corpus, k: Int): RepoFile =
    RepoFile(s"git.example/misc/repo-$k", noisePaths(pick(mix(c.seed, 20, k), noisePaths.length)),
      commit(c.seed, 21, k), "other", s"not a manifest #$k ${mix(c.seed, 22, k)}")

  /** The whole corpus, generated on the executors. */
  def corpus(spark: SparkSession, c: Corpus): DataFrame = {
    import spark.implicits._
    val files = spark.range(0, c.pkgsPerEco.toLong * Ecos.size).flatMap { idx =>
      packageFiles(c, Ecos((idx % Ecos.size).toInt), (idx / Ecos.size).toInt)
    }
    files.union(spark.range(0, c.noiseFiles.toLong).map(k => noiseFile(c, k.toInt))).toDF()
  }

  /** Manifests in the corpus and how many of them are malformed, by construction. */
  def manifestCounts(c: Corpus): (Long, Long) = {
    var manifests = 0L; var bad = 0L
    for (eco <- Ecos; i <- 0 until c.pkgsPerEco) {
      manifests += (if (eco == "npm" || eco == "pypi") 1 else versions(c, eco, i).size)
      if (isMalformed(c, eco, i)) bad += 1
    }
    (manifests, bad)
  }

  // ------------------------------------------------------------------ edges

  /** A directed `(src, dst)` Long edge table: `vertices` is a power of two,
    * about `edges` distinct non-loop edges with uniform sources (mean
    * out-degree edges/vertices; a tenth of the ids never appear as a source,
    * so dangling vertices exist) and targets drawn from a cubed uniform, so a
    * few vertices have very large in-degree. Ids are scrambled by an odd
    * multiplier so hubs are not the smallest ids. */
  final case class Graph(vertices: Int, edges: Long, seed: Long) {
    require(Integer.bitCount(vertices) == 1, "vertices must be a power of two")
  }

  def edgeTable(spark: SparkSession, g: Graph): DataFrame = {
    val n = g.vertices.toLong
    val sources = n - n / 10
    val mul = (mix(g.seed, 30) | 1L) & (n - 1)
    val add = mix(g.seed, 31) & (n - 1)
    def scramble(c: org.apache.spark.sql.Column) = (c * lit(if (mul == 1L) 3L else mul) + lit(add)).bitwiseAND(lit(n - 1))
    val h1 = xxhash64(lit(g.seed), col("id"), lit(1))
    val u = (shiftrightunsigned(xxhash64(lit(g.seed), col("id"), lit(2)), 11).cast("double") / lit((1L << 53).toDouble))
    spark.range(0, g.edges)
      .select(pmod(h1, lit(sources)).as("s"), least(lit(n - 1), (u * u * u * lit(n.toDouble)).cast("long")).as("d"))
      .select(scramble(col("s")).as("src"), scramble(col("d")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }
}
