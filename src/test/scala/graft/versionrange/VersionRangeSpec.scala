package graft.versionrange

import org.scalatest.funsuite.AnyFunSuite

/**
 * Golden vectors ported 1:1 from the reference's resolver test suites
 * (`src/test/java/Repositories/<eco>/<Eco>VersionRangeResolverTest.java`
 * for Maven, NPM, PyPi and Nuget).
 * These are the compatibility contract: every assertion here pins an
 * observable behaviour the AA edge set depends on.
 */
class VersionRangeSpec extends AnyFunSuite {

  /** The 112-version lodash corpus used by the NPM/PyPi/NuGet reference tests. */
  val lodash: List[String] = List(
    "0.1.0", "0.2.0", "0.2.1", "0.2.2", "0.3.0", "0.3.1", "0.3.2", "0.4.0",
    "0.4.1", "0.4.2", "0.5.0-rc.1", "0.5.0", "0.5.1", "0.5.2", "0.6.0", "0.6.1", "0.7.0", "0.8.0", "0.8.1", "0.8.2", "0.9.0",
    "0.9.1", "0.9.2", "0.10.0", "1.0.0-rc.1", "1.0.0-rc.2", "1.0.0-rc.3", "1.0.0", "1.0.1", "1.1.0", "1.1.1", "1.2.0", "1.2.1",
    "1.3.0", "1.3.1", "2.0.0", "2.1.0", "2.2.0", "2.2.1", "2.3.0", "2.4.0", "2.4.1", "3.0.0", "3.0.1", "3.1.0", "3.2.0",
    "3.3.0", "3.3.1", "3.4.0", "3.5.0", "3.6.0", "1.0.2", "3.7.0", "2.4.2", "3.8.0", "3.9.0", "3.9.1", "3.9.2", "3.9.3",
    "3.10.0", "3.10.1", "4.0.0", "4.0.1", "4.1.0", "4.2.0", "4.2.1", "4.3.0", "4.4.0", "4.5.0", "4.5.1", "4.6.0", "4.6.1",
    "4.7.0", "4.8.0", "4.8.1", "4.8.2", "4.9.0", "4.10.0", "4.11.0", "4.11.1", "4.11.2", "4.12.0", "4.13.0", "4.13.1", "4.14.0",
    "4.14.1", "4.14.2", "4.15.0", "4.16.0", "4.16.1", "4.16.2", "4.16.3", "4.16.4", "4.16.5", "4.16.6", "4.17.0", "4.17.1",
    "4.17.2", "4.17.3", "4.17.4", "4.17.5", "4.17.9", "4.17.10", "4.17.11", "4.17.12", "4.17.13", "4.17.14", "4.17.15",
    "4.17.16", "4.17.17", "4.17.18", "4.17.19", "4.17.20", "4.17.21")

  val lodashSet: Set[String] = lodash.toSet

  private def check(r: RangeResolver, corpus: Iterable[String])(spec: String, expected: Set[String]): Unit =
    assert(r.findMatchingVersions(spec, corpus) == expected, s"spec '$spec'")

  // ------------------------------------------------------------------ Maven

  val mavenCorpus = Set("1.0.0", "1.2.3", "1.3.3-SNAPSHOT", "2.0.0")
  def mv(spec: String, expected: Set[String]): Unit = check(Resolvers.maven, mavenCorpus)(spec, expected)

  test("Maven: fixed ranges") {
    mv("1.2.3", Set("1.2.3"))
    mv("1.0.0-SNAPSHOT", Set("1.0.0"))
    mv("[2.0.0]", Set("2.0.0"))
  }

  test("Maven: real ranges") {
    mv("[1.2.3, 2.0.0)", Set("1.2.3", "1.3.3-SNAPSHOT"))
    mv("[1.3.0,2.0.0]", Set("1.3.3-SNAPSHOT"))
  }

  test("Maven: missing patch version") {
    mv("[1.0.1,2.0]", Set("1.2.3", "1.3.3-SNAPSHOT"))
  }

  test("Maven: OR case") {
    mv("[1.2.3],[1.0.0]", Set("1.2.3", "1.0.0"))
  }

  test("Maven: range identification") {
    assert(Resolvers.maven.isRange("(,1.0]"))
    assert(!Resolvers.maven.isRange("1.0"))
    assert(!Resolvers.maven.isRange("[1.0]"))
    assert(Resolvers.maven.isRange("[1.0.0,1.2.3]"))
  }

  // -------------------------------------------------------------------- NPM

  def npm(spec: String, expected: Set[String]): Unit = check(Resolvers.npm, lodashSet)(spec, expected)

  test("NPM: fixed ranges") {
    npm("1.1.1", Set("1.1.1"))
    npm("0.4.0", Set("0.4.0"))
    npm("=1.1.1", Set("1.1.1"))
  }

  test("NPM: patch wildcards") {
    val expected = lodash.filter(_.startsWith("3.3.")).toSet
    npm("3.3", expected)
    npm("3.3.x", expected)
    npm("~3.3.0", expected)
  }

  test("NPM: minor wildcards") {
    val expected = lodash.filter(_.startsWith("1.")).toSet
    npm("1", expected)
    npm("1.x", expected)
    npm("^1.0.0", expected)
  }

  test("NPM: major wildcards") {
    npm("*", lodashSet)
    npm("x", lodashSet)
  }

  test("NPM: complex caret cases") {
    npm("^1.2.1", Set("1.2.1", "1.3.0", "1.3.1"))
    npm("^3.9.0", Set("3.9.0", "3.9.1", "3.9.2", "3.9.3", "3.10.0", "3.10.1"))
  }

  test("NPM: complex tilde cases") {
    npm("~3.9.2", Set("3.9.2", "3.9.3"))
    npm("~4.14.1", Set("4.14.1", "4.14.2"))
  }

  test("NPM: simple ranges") {
    npm(">4.17.18", Set("4.17.19", "4.17.20", "4.17.21"))
    npm(">=4.17.18", Set("4.17.18", "4.17.19", "4.17.20", "4.17.21"))
    npm("<0.3.2", Set("0.1.0", "0.2.0", "0.2.1", "0.2.2", "0.3.0", "0.3.1"))
    npm("<=0.3.2", Set("0.1.0", "0.2.0", "0.2.1", "0.2.2", "0.3.0", "0.3.1", "0.3.2"))
  }

  test("NPM: complex ranges") {
    npm("<=0.3.2 || >4.17.20",
      Set("0.1.0", "0.2.0", "0.2.1", "0.2.2", "0.3.0", "0.3.1", "0.3.2", "4.17.21"))
  }

  test("NPM: space-separated AND means both bounds") {
    // normalization strips the space, leaving `>=1.2.3<3.0.0`: the AND arm
    // must split it before the second comparator, not re-classify it forever
    val spec = ">=1.2.3 <3.0.0"
    assert(Resolvers.npm.versionInRange(spec, "2.0.0"))
    assert(!Resolvers.npm.versionInRange(spec, "1.2.2"))
    assert(!Resolvers.npm.versionInRange(spec, "3.0.0"))
    val both = Resolvers.npm.findMatchingVersions(spec, lodash)
    assert(both.nonEmpty && both == Resolvers.npm.findMatchingVersions(">=1.2.3,<3.0.0", lodash))
  }

  test("NPM: non-three-part numbers") {
    npm("<0.3 || >4.17", Set("0.1.0", "0.2.0", "0.2.1", "0.2.2"))
    npm("<1", Set("0.1.0", "0.2.0", "0.2.1", "0.2.2", "0.3.0", "0.3.1", "0.3.2", "0.4.0", "0.4.1", "0.4.2",
      "0.5.0-rc.1", "0.5.0", "0.5.1", "0.5.2", "0.6.0", "0.6.1", "0.7.0", "0.8.0", "0.8.1", "0.8.2", "0.9.0", "0.9.1", "0.9.2", "0.10.0"))
    npm(">2 || <=2", lodashSet)
  }

  // ------------------------------------------------------------------- PyPi

  def pypi(spec: String, expected: Set[String]): Unit = check(Resolvers.pypi, lodashSet)(spec, expected)

  test("PyPi: fixed ranges") {
    pypi("==0.5.0", Set("0.5.0", "0.5.0-rc.1"))
    pypi("===0.4.0", Set("0.4.0"))
  }

  test("PyPi: greater-than ranges") {
    pypi(">4.17.19", Set("4.17.20", "4.17.21"))
    pypi(">=4.17.19", Set("4.17.19", "4.17.20", "4.17.21"))
  }

  test("PyPi: lower-than ranges") {
    pypi("<0.2.2", Set("0.1.0", "0.2.0", "0.2.1"))
    pypi("<=0.2.2", Set("0.1.0", "0.2.0", "0.2.1", "0.2.2"))
  }

  test("PyPi: compatibility clause") {
    pypi("~=0.2.1", Set("0.2.1", "0.2.2"))
    pypi("~=3.9", Set("3.9.0", "3.9.1", "3.9.2", "3.9.3", "3.10.0", "3.10.1"))
  }

  test("PyPi: exclusions") {
    pypi(">=4.17.19, != 4.17.20", Set("4.17.19", "4.17.21"))
    pypi("<0.2.2, != 0.1.0", Set("0.2.0", "0.2.1"))
  }

  test("PyPi: multiple clauses") {
    pypi(">0.1.0,<0.2.2", Set("0.2.0", "0.2.1"))
  }

  test("PyPi: non-three-part numbers") {
    pypi("<1", Set("0.1.0", "0.2.0", "0.2.1", "0.2.2", "0.3.0", "0.3.1", "0.3.2", "0.4.0", "0.4.1", "0.4.2",
      "0.5.0-rc.1", "0.5.0", "0.5.1", "0.5.2", "0.6.0", "0.6.1", "0.7.0", "0.8.0", "0.8.1", "0.8.2", "0.9.0", "0.9.1", "0.9.2", "0.10.0"))
    pypi(">2, <=2", Set())
    // "!= 0.2" expands to 0.2.0 and excludes exactly that version.
    pypi("<0.3.0, != 0.2", Set("0.1.0", "0.2.1", "0.2.2"))
  }

  test("PyPi: empty spec means ALL") {
    pypi("", lodashSet)
  }

  // ------------------------------------------------------------------ NuGet

  def ng(spec: String, expected: Set[String]): Unit = check(Resolvers.nuget, lodashSet)(spec, expected)

  test("NuGet: fixed vs range identification") {
    assert(!Resolvers.nuget.isRange("[1.9.0]"))
    assert(Resolvers.nuget.isRange("(,1.0.0]"))
    assert(Resolvers.nuget.isRange("[1.0.0, 2]"))
    assert(Resolvers.nuget.isRange("1.0.0-rc.1"))
    assert(!Resolvers.nuget.isRange("[1.0]"))
  }

  test("NuGet: simple ranges") {
    ng("[1.0.0, 1.1.1)", Set("1.0.0", "1.0.1", "1.1.0", "1.0.2"))
    ng("(4.17.16,]", Set("4.17.17", "4.17.18", "4.17.19", "4.17.20", "4.17.21"))
    ng("(,)", lodashSet)
    ng("[,0.1.0)", Set())
  }

  test("NuGet: floating versions") {
    assert(Resolvers.nuget.isRange("1.*"))
    assert(Resolvers.nuget.isRange("*"))
    ng("0.6.*", Set("0.6.0", "0.6.1"))
    ng("*", lodashSet)
    ng("1.*", Set("1.0.0", "1.0.1", "1.1.0", "1.1.1", "1.2.0", "1.2.1", "1.3.0", "1.3.1", "1.0.2"))
  }

  test("NuGet: prerelease versions") {
    ng("[1.0.0-rc.1]", Set("1.0.0-rc.1"))
    ng("[1.0.0-rc.1, 1.1.1)", Set("1.0.0-rc.1", "1.0.0-rc.2", "1.0.0-rc.3", "1.0.0", "1.0.1", "1.1.0", "1.0.2"))
    ng("[0.10.0,1.0.0]", Set("0.10.0", "1.0.0-rc.1", "1.0.0-rc.2", "1.0.0-rc.3", "1.0.0"))
    ng("[0.10.0,1.0.0)", Set("0.10.0"))
  }

  test("NuGet: implicit nulls") {
    ng("[1.0]", Set("1.0.0"))
    ng("[1, 2)", Set("1.0.0", "1.0.1", "1.1.0", "1.1.1", "1.2.0", "1.2.1", "1.3.0", "1.3.1", "1.0.2"))
  }

  // --------------------------------------------------------- shared helpers

  test("parseNumber: truncation / stripping / overflow") {
    assert(VersionMath.parseNumber("12") == 12)
    assert(VersionMath.parseNumber(">=4") == 4)
    assert(VersionMath.parseNumber("abc") == -1)
    assert(VersionMath.parseNumber("") == -1)
    // >12 chars: truncated to 11 chars before stripping
    assert(VersionMath.parseNumber("1234567890123456") == 12345678901L.toInt || VersionMath.parseNumber("1234567890123456") == -1)
    // 11 digits overflow Int -> -1
    assert(VersionMath.parseNumber("99999999999") == -1)
  }

  test("fixedRangeEquals: prefix equality with wildcards and coercion") {
    assert(VersionMath.fixedRangeEquals("1.0", "1.0.0"))
    assert(VersionMath.fixedRangeEquals("x.2", "1.2.9"))
    assert(!VersionMath.fixedRangeEquals("1.0.0", "1.0"))      // range more specific
    assert(!VersionMath.fixedRangeEquals("1.0", ""))
    assert(VersionMath.fixedRangeEquals("v1.0", "1.0.3"))      // numeric coercion
  }

  test("invalid specs resolve to nothing") {
    for (r <- Seq(Resolvers.maven, Resolvers.npm)) {
      assert(r.findMatchingVersions("${project.version}", lodashSet).isEmpty)
      assert(r.findMatchingVersions("latest", lodashSet).isEmpty)
      assert(r.findMatchingVersions("git+https://x", lodashSet).isEmpty)
      assert(r.findMatchingVersions("file:../local", lodashSet).isEmpty)
    }
    assert(Resolvers.npm.findMatchingVersions("", lodashSet).isEmpty)
    assert(Resolvers.nuget.findMatchingVersions("", lodashSet).isEmpty)
    assert(Resolvers.nuget.findMatchingVersions("x1", lodashSet).isEmpty)
  }
}

/** Exhaustive structural properties over a dense synthetic version grid:
  * results are always subsets of the corpus, `>=`/`<` pairs partition it,
  * and NuGet point intervals hit exactly their version. */
class VersionRangeProps extends AnyFunSuite {

  private val versions = for { a <- 0 to 4; b <- 0 to 5; c <- 0 to 3 } yield s"$a.$b.$c"
  private val corpus = versions.toSet

  test("prop: npm >= and < partition the corpus (exhaustive)") {
    for (v <- versions) {
      val ge = Resolvers.npm.findMatchingVersions(s">=$v", corpus)
      val lt = Resolvers.npm.findMatchingVersions(s"<$v", corpus)
      assert((ge ++ lt) == corpus, s"partition failed at $v")
      assert(ge.intersect(lt).isEmpty, s"overlap at $v")
    }
  }

  test("prop: results are subsets of the corpus (exhaustive over ops)") {
    for {
      v <- versions
      spec <- Seq(v, s"^$v", s"~$v", s">$v", s"<=$v")
      r <- Seq(Resolvers.npm, Resolvers.pypi, Resolvers.maven)
    } assert(r.findMatchingVersions(spec, corpus).subsetOf(corpus), s"spec $spec")
  }

  test("prop: nuget interval [v,v] is exactly v for numeric versions") {
    for (v <- versions)
      assert(Resolvers.nuget.findMatchingVersions(s"[$v,$v]", corpus) == Set(v), s"at $v")
  }

  test("prop: resolvers agree with the reference oracle on simple > ranges") {
    def parts(s: String) = s.split("\\.").map(_.toInt)
    for (v <- versions) {
      val expected = corpus.filter { c =>
        val (a, b) = (parts(c), parts(v))
        (a(0) > b(0)) || (a(0) >= b(0) && a(1) > b(1)) || (a(0) >= b(0) && a(1) >= b(1) && a(2) > b(2))
      }
      assert(Resolvers.npm.findMatchingVersions(s">$v", corpus) == expected, s"npm >$v")
    }
  }

  // ------------------------------------- classify fall-through norm carry
  // The reference mutates repr.NormalizedRangeString inside a matching branch
  // BEFORE the arity switch, so an arity>=4 spec that falls through keeps the
  // mutated string into the final UNKNOWN representation
  // (`NpmVersionRangeResolver.java:289-291`, `PyPiVersionRangeResolver.java:303`,
  // `MavenVersionRangeResolver.java:75,95,115,135`). Vectors below were
  // differentially verified against the compiled reference Java.

  val arity4Corpus = Set("1.2.3.4", "5.1.2.3", "1.2.3.4.5", "2.2.3.4", "1.0.0", "4.17.21")

  private def check(r: RangeResolver, corpus: Iterable[String])(spec: String, expected: Set[String]): Unit =
    assert(r.findMatchingVersions(spec, corpus) == expected, s"spec '$spec'")

  test("NPM: arity>=4 caret specs fall through with the stripped norm") {
    check(Resolvers.npm, arity4Corpus)("^1.2.3.4", Set("1.2.3.4", "1.2.3.4.5"))
    check(Resolvers.npm, arity4Corpus)("^x.1.2.3", Set("5.1.2.3"))
    check(Resolvers.npm, arity4Corpus)("^1.2.3.4.5", Set("1.2.3.4.5"))
    check(Resolvers.npm, arity4Corpus)("^1.2.3.4,", Set("1.2.3.4", "1.2.3.4.5"))
  }

  test("PyPi: arity>=4 caret specs fall through with the stripped norm") {
    check(Resolvers.pypi, arity4Corpus)("^1.2.3.4", Set("1.2.3.4", "1.2.3.4.5"))
    check(Resolvers.pypi, arity4Corpus)("^x.1.2.3", Set("5.1.2.3"))
    // trailing-comma variant matches no classify regex in pypi (AndOp absent),
    // and the caret branch's mutation never fires -> raw norm, no match
    check(Resolvers.pypi, arity4Corpus)("^x.1.2.3,", Set.empty)
  }

  test("Maven: arity>=4 one-sided blocks fall through with the shrunk norm") {
    val m = new MavenRangeResolver
    assert(m.classify("[,1.2.3.4)").kind == MavenRangeResolver.Unknown)
    assert(m.classify("[,1.2.3.4)").norm == "[1.2.3.4)")
    assert(m.classify("[1.2.3.4,)").norm == "[1.2.3.4)")
  }
}
