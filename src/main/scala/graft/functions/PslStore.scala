package graft.functions

/** Versioned store for public-suffix-list artifacts — the load path
  * [[UrlOps]]'s header promised: eTLD+1 against a ~15-entry embedded
  * snapshot mis-keys real multi-label suffixes, which silently
  * distorts domain caps and robots grouping; a deployment loads the
  * FULL list the way the tokenizer loads its artifact
  * ([[TokenizerStore]] — one immutable JSON per version in [[Slots]],
  * a [[VersionedSlots.Files]], construction-time pinning).
  *
  * The artifact is the PSL RULE list in publicsuffix.org's own
  * format, one rule per entry:
  *  - `com`, `co.uk`, `k12.ma.us` — literal suffixes;
  *  - `*.nom.br` — a wildcard label (matches exactly one label);
  *  - `!city.kawasaki.jp` — an exception to a wildcard rule.
  * [[PslStore.registrable]] implements the published matching
  * algorithm: among matching rules an exception prevails (its public
  * suffix is the rule minus its first label), else the rule with the
  * MOST labels; no match falls back to the implicit `*` rule (the top
  * label is the suffix). The registrable domain (eTLD+1) is the
  * public suffix plus one label; a host that IS a public suffix has
  * none (NULL). The list is control-plane-sized (~10k rules in the
  * real PSL), so one JSON per version is the right durability unit
  * and the rule set broadcasts inside the expression to every
  * executor — the same literal-baking shape as
  * `tokenize_from_artifact`.
  */
object PslStore {

  final case class Artifact(version: Int, rules: Seq[String])

  /** The version slots: `psl_v<N>.json`, listing, pinning, GC. */
  val Slots = VersionedSlots.Files[Artifact]("psl", "PSL")

  /** Persist a rule list as the NEXT version (atomic, immutable). */
  def save(dir: String, rules: Seq[String]): Int =
    Slots.save(dir)(v => Artifact(v, rules))

  /** A parsed, match-ready rule set. Built ONCE at expression
    * construction; matching is O(#host labels) HASH LOOKUPS per row
    * — the real PSL is ~10k rules, and a per-row linear rule scan
    * would put a 10^4 factor into the map-only hot path. Rules are
    * stored as joined lowercase label tails; per family the maximum
    * rule label-count bounds the probe depth.
    */
  final class Rules private[PslStore] (
      exact: Set[String], wildcards: Set[String],
      exceptions: Set[String], maxExact: Int, maxWild: Int,
      maxExc: Int) extends Serializable {

    /** Label-count of the PUBLIC SUFFIX of `labels`, per the published
      * algorithm; the implicit `*` rule backs everything. Probes go
      * longest-first so the first hit per family IS that family's
      * longest match.
      */
    private def suffixLen(labels: Array[String]): Int = {
      val n = labels.length
      // tails(k) = the last k labels joined with '.'
      val tails = new Array[String](n + 1)
      tails(0) = ""
      var k = 1
      while (k <= n) {
        tails(k) =
          if (k == 1) labels(n - 1)
          else labels(n - k) + "." + tails(k - 1)
        k += 1
      }
      // an exception prevails: suffix = the rule minus its FIRST label
      var e = math.min(n, maxExc)
      while (e >= 1) {
        if (exceptions.contains(tails(e))) return e - 1
        e -= 1
      }
      var longest = 1 // the implicit * rule
      var x = math.min(n, maxExact)
      var hit = false
      while (x > longest && !hit) {
        if (exact.contains(tails(x))) { longest = x; hit = true }
        x -= 1
      }
      // '*.nom.br' stores ['nom','br'] and matches w + 1 trailing
      // labels when the w labels BEHIND the wildcard position match
      var w = math.min(n - 1, maxWild)
      hit = false
      while (w >= 1 && w + 1 > longest && !hit) {
        if (wildcards.contains(tails(w))) { longest = w + 1; hit = true }
        w -= 1
      }
      longest
    }

    /** eTLD+1 of `host`, or null when the host IS a public suffix (no
      * registrable domain exists). IP literals and single labels pass
      * through unchanged — they are their own policy unit, the
      * [[UrlOps.domainOf]] convention.
      */
    def registrable(host: String): String = {
      if (host.indexOf(':') >= 0 || host.startsWith("[")) return host
      val labels = host.split("\\.", -1)
      if (labels.length <= 1) return host
      if (labels.forall(l => l.nonEmpty && l.forall(c => c >= '0' && c <= '9')))
        return host // IPv4 literal
      val n = suffixLen(labels)
      if (labels.length <= n) null
      else labels.takeRight(n + 1).mkString(".")
    }
  }

  /** Parse rule strings into a match-ready set. Rules are
    * ASCII-lowercased; comment (`//`) and blank lines are tolerated so
    * a raw PSL file body can be stored as-is.
    */
  def parseRules(rules: Seq[String]): Rules = {
    val exact = Set.newBuilder[String]
    val wild = Set.newBuilder[String]
    val exc = Set.newBuilder[String]
    var maxExact = 0
    var maxWild = 0
    var maxExc = 0
    def labelCount(s: String): Int = s.count(_ == '.') + 1
    rules.foreach { raw =>
      val line = raw.trim.toLowerCase(java.util.Locale.ROOT)
      if (line.nonEmpty && !line.startsWith("//")) {
        if (line.startsWith("!")) {
          val r = line.substring(1)
          exc += r
          maxExc = math.max(maxExc, labelCount(r))
        } else if (line.startsWith("*.")) {
          val r = line.substring(2)
          wild += r
          maxWild = math.max(maxWild, labelCount(r))
        } else if (!line.contains("*")) {
          exact += line
          maxExact = math.max(maxExact, labelCount(line))
        } else throw new IllegalArgumentException(
          s"psl: interior wildcard unsupported: '$raw'")
      }
    }
    new Rules(exact.result(), wild.result(), exc.result(),
      maxExact, maxWild, maxExc)
  }
}
