package graft.versionrange

import VersionMath.{parseNumber => pn, fixedRangeEquals => fre}

/**
 * NPM (semver-ish) range semantics, matching the reference's NPM resolver
 * (`src/main/java/Repositories/NPM/NpmVersionRangeResolver.java:10-464`).
 *
 * Grammar: fixed version (regex-matched); `^` (caret), `~` / `~=` (tilde),
 * `>` `>=` `<` `<=` at arities 1-3; `a || b` (OR, two operands);
 * `<prefix>a,<prefix>b` (AND, two operands); `!`/`!=` (NOT).
 * Pre-release tails are cut at the first `-`/`@` during normalization
 * (reference `:272-273`) — the reference deliberately ignores pre-release
 * ordering (noted in its own test suite header).
 * The reference's debug println for version 0.2.2 (`:247-248`) is not
 * reproduced; the AND logic around it is.
 */
class NpmRangeResolver extends RangeResolver {

  import NpmRangeResolver._

  override def isValid(spec: String): Boolean =
    !(spec.isEmpty || MavenRangeResolver.IllegalMarkers.exists(spec.contains))

  /** Everything that is not a plain version literal is a range (reference `:29-32`). */
  override def isRange(spec: String): Boolean = !spec.matches(Pat)

  override def normalizeFixed(spec: String): String = {
    // Reference quirk (`:36-37`): split on the *character class* [workspace:],
    // so "workspace:1.2.3" strips every leading w/o/r/k/s/p/a/c/e/: char.
    val s = if (spec.contains("workspace:")) spec.split("[workspace:]")(1) else spec
    s.replaceAll(" ", "").split("[-]")(0).split("[@]")(0)
      .replaceAll("(\\*|X)", "x").replaceAll("(\"|\')", "").replaceAll(" ", "")
  }

  override def versionInRange(spec: String, version: String): Boolean =
    contains(classify(spec), version)

  override def rangePredicate(spec: String): String => Boolean = {
    val repr = classify(spec)
    contains(repr, _)
  }

  /** Classify (reference `buildVersionRangeRepresentation:270-428`).
    * Checks cascade in the reference's order; a prefix regex that matches but
    * yields an unexpected arity (>3 dot parts) falls through to later checks,
    * exactly as the reference's non-returning switch arms do. `carried`
    * mirrors the reference's mutable `repr.NormalizedRangeString` field: the
    * `^` branch strips carets/commas BEFORE its arity switch (`:289-291`), so
    * an arity>=4 caret spec that falls through keeps the stripped string all
    * the way to the final Or/And/Not/Unknown representation. */
  private[versionrange] def classify(spec: String): Repr = {
    val n = spec.replaceAll(" ", "").split("[-]")(0).split("[@]")(0)
      .replaceAll("(\\*|X)", "x").replaceAll("(\"|\')", "").replaceAll(" ", "")
    var carried = n
    val found: Option[Repr] =
      try {
        def byArity(k1: Kind, k2: Kind, k3: Kind): Option[Repr] =
          n.split("[.]").length match {
            case 1 => Some(Repr(k1, carried)); case 2 => Some(Repr(k2, carried))
            case 3 => Some(Repr(k3, carried)); case _ => None
          }
        def when(cond: Boolean)(r: => Option[Repr]): Option[Repr] = if (cond) r else None

        when(n.matches(Pat))(Some(Repr(Std, carried)))
          .orElse(when(n.matches("\\^" + Pat + AndOp)) {
            carried = n.replaceAll("(,)?", "").replaceAll("\\^", "")
            byArity(Dash1, Dash2, Dash3)
          })
          .orElse(when(n.matches(">" + Pat + AndOp))(byArity(Higher1, Higher2, Higher3)))
          .orElse(when(n.matches(">=" + Pat + AndOp))(byArity(HigherEq1, HigherEq2, HigherEq3)))
          .orElse(when(n.matches("<" + Pat + AndOp))(byArity(Lower1, Lower2, Lower3)))
          .orElse(when(n.matches("<=" + Pat + AndOp))(byArity(LowerEq1, LowerEq2, LowerEq3)))
          .orElse(when(n.matches("~(=)?" + Pat + AndOp))(byArity(Tilde1, Tilde2, Tilde3)))
          .orElse(when(n.matches(Prefixes + "?" + Pat + OrOp + Prefixes + "?" + Pat))(Some(Repr(Or, carried))))
          .orElse(when(n.matches(Prefixes + Pat + AndOp + Prefixes + Pat))(Some(Repr(And, carried))))
          .orElse(when(n.matches("!(=)?" + Pat))(Some(Repr(Not, carried))))
      } catch { case _: Exception => None }
    found.getOrElse(Repr(Unknown, carried))
  }

  /** Containment (reference `isVersionInRange:44-267`). */
  private[versionrange] def contains(repr: Repr, rawVersion: String): Boolean = {
    val v = rawVersion.replaceAll(" ", "")
    if (v.contains("$") || v.isEmpty) return false
    val r = repr.norm
    var out = false
    try {
      repr.kind match {
        case Std | Unknown => out = r == v || fre(r, v)

        case Dash1 | HigherEq1 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 1) out = f(0) == "x" || pn(t(0)) >= pn(f(0))
        case Dash2 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 2)
            out = f(1) == "x" || (pn(t(0)) == pn(f(0)) && pn(t(1)) >= pn(f(1)))
        case Dash3 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 3)
            out = f(2) == "x" ||
              (pn(t(0)) == pn(f(0)) && pn(t(1)) > pn(f(1))) ||
              (pn(t(0)) == pn(f(0)) && pn(t(1)) >= pn(f(1)) && pn(t(2)) >= pn(f(2)))

        case HigherEq2 => out = if (fre(r, v)) true else contains(Repr(Higher2, r), v)
        case HigherEq3 => out = if (fre(r, v)) true else contains(Repr(Higher3, r), v)
        case LowerEq1  => out = if (fre(r, v)) true else contains(Repr(Lower1, r), v)
        case LowerEq2  => out = if (fre(r, v)) true else contains(Repr(Lower2, r), v)
        case LowerEq3  => out = if (fre(r, v)) true else contains(Repr(Lower3, r), v)

        case Higher1 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 1) out = f(0) == "x" || pn(t(0)) > pn(f(0))
        case Higher2 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 2)
            out = f(1) == "x" ||
              (pn(t(0)) > pn(f(0)) || (pn(t(0)) >= pn(f(0)) && pn(t(1)) > pn(f(1))))
        case Higher3 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 3)
            out = f(2) == "x" ||
              (pn(t(0)) > pn(f(0)) ||
               (pn(t(0)) >= pn(f(0)) && pn(t(1)) > pn(f(1))) ||
               (pn(t(0)) >= pn(f(0)) && pn(t(1)) >= pn(f(1)) && pn(t(2)) > pn(f(2))))

        case Lower1 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 1) out = f(0) == "x" || pn(t(0)) < pn(f(0))
        case Lower2 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 2)
            out = f(1) == "x" ||
              (pn(t(0)) < pn(f(0)) || (pn(t(0)) == pn(f(0)) && pn(t(1)) < pn(f(1))))
        case Lower3 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 3)
            out = f(2) == "x" ||
              (pn(t(0)) < pn(f(0)) ||
               (pn(t(0)) <= pn(f(0)) && pn(t(1)) < pn(f(1))) ||
               (pn(t(0)) <= pn(f(0)) && pn(t(1)) <= pn(f(1)) && pn(t(2)) < pn(f(2))))

        case Tilde1 =>
          if (v.split("[.]").length >= 1) out = true
        case Tilde2 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 2)
            out = f(1) == "x" ||
              (pn(t(0)) == pn(f(0)) && (pn(t(1)) >= pn(f(1)) || f(2) == "x"))
        case Tilde3 =>
          val f = r.split("[.]"); val t = v.split("[.]")
          if (t.length >= 3)
            out = pn(t(0)) == pn(f(0)) &&
              (pn(t(1)) == pn(f(1)) || f(2) == "x") &&
              (pn(t(2)) >= pn(f(2)) || f(3) == "x")

        case Or =>
          val parts = r.split("(\\|\\|)")
          return contains(Repr(Recursive, parts(0)), v) || contains(Repr(Recursive, parts(1)), v)

        case And =>
          // normalization drops the space of a space-separated AND
          // (`>=1.2.3 <3.0.0` -> `>=1.2.3<3.0.0`), so a comma-less AND is
          // split before its second comparator — re-classifying the unsplit
          // string would recurse without bound
          val parts =
            if (r.contains(",")) r.split(",")
            else r.split("(?<=[^\\^~<>=!])(?=[\\^~<>=!])", 2)
          return contains(Repr(Recursive, parts(0)), v) && contains(Repr(Recursive, parts(1)), v)

        case Recursive =>
          val rr = if (r.contains("workspace:")) r.split("[workspace:]")(1) else r
          out = contains(classify(rr), v)

        case Not => out = !(r == v || fre(r, v))
      }
    } catch { case _: Exception => () }
    out
  }
}

object NpmRangeResolver {
  /** Verbatim reference regexes (`NpmVersionRangeResolver.java:30,276-279`). */
  private[versionrange] val Pat      = "(v?)((((\\d)+|x).){0,2}((\\d)+|x))(((.)?)((\\w)*))?"
  private[versionrange] val Prefixes = "(\\^|~|>|(>=)|<|(<=)|==|~=|(!=))"
  private[versionrange] val OrOp     = "(\\|\\|)"
  private[versionrange] val AndOp    = "(,)?"

  sealed trait Kind
  case object Unknown   extends Kind
  case object Std       extends Kind
  case object Recursive extends Kind
  case object And       extends Kind
  case object Or        extends Kind
  case object Dash1     extends Kind
  case object Dash2     extends Kind
  case object Dash3     extends Kind
  case object Higher1   extends Kind
  case object Higher2   extends Kind
  case object Higher3   extends Kind
  case object HigherEq1 extends Kind
  case object HigherEq2 extends Kind
  case object HigherEq3 extends Kind
  case object Lower1    extends Kind
  case object Lower2    extends Kind
  case object Lower3    extends Kind
  case object LowerEq1  extends Kind
  case object LowerEq2  extends Kind
  case object LowerEq3  extends Kind
  case object Tilde1    extends Kind
  case object Tilde2    extends Kind
  case object Tilde3    extends Kind
  case object Not       extends Kind

  final case class Repr(kind: Kind, norm: String)
}
