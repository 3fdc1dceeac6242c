package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL hygiene for crawl corpora — the step between fetch and every
  * per-domain policy (dedup by canonical URL, per-domain caps,
  * blocklists, domain mixing). Two primitives, both pure scan
  * projections:
  *
  *  - [[UrlOps.canonicalizeUrl]]: one single-pass parse per row with a
  *    DETERMINISTIC canonical form (contract below) — the key under
  *    which "the same page fetched twice" collapses;
  *  - [[UrlOps.registrableDomain]]: host → eTLD+1 against an embedded
  *    public-suffix snapshot — the unit of per-site policy.
  *
  * Canonicalization contract ([[UrlCanonExpr]]):
  *  1. Absolute URLs only: `scheme://host[:port][/path][?query][#frag]`
  *     with scheme `[A-Za-z][A-Za-z0-9+.-]*` and a non-empty host.
  *     Anything else (relative refs, missing host, junk) → NULL — a
  *     crawl row without a usable URL key.
  *  2. Scheme and host lowercase (RFC 3986 §6.2.2.1 case
  *     normalization; the rest of the URL keeps its case). A single
  *     trailing dot on the host is stripped (WHATWG host
  *     normalization — `example.com.` IS `example.com`). Userinfo is
  *     DROPPED: credentials never identify a page, and folding them
  *     into the host would key `http://a.com@evil.com/` on a garbage
  *     domain. Bracketed IPv6 literals parse (the port colon is only
  *     after `]`).
  *  3. The fragment is dropped (never sent to the server).
  *  4. Default ports drop: `:80` for http, `:443` for https; other
  *     ports survive; a digit run past 65535 is junk → NULL.
  *  5. Query parameters split on `&`: empty params drop, TRACKING
  *     params drop (name in utm_* or fbclid/gclid/msclkid/mc_cid/
  *     mc_eid — decoration that multiplies aliases of one page), the
  *     survivors SORT by full `name=value` byte order and rejoin.
  *     An empty survivor set drops the `?` entirely.
  *  6. An empty path becomes `/` (RFC 3986 §6.2.3).
  *  7. Percent-encoding is NOT normalized (no decode/re-encode): a
  *     mis-decoded octet corrupts the key silently, so the contract
  *     leaves encoding bytes untouched.
  *
  * Registrable-domain contract ([[UrlDomainExpr]]): labels = host split
  * on `.`; if the last TWO labels form an entry in the embedded
  * multi-label public-suffix snapshot (co.uk-style country pairs +
  * the big shared-hosting suffixes), the registrable domain is the
  * last THREE labels, else the last TWO; hosts with a single label
  * (localhost, intranet names) and all-numeric IPv4 hosts return
  * as-is. The snapshot is an embedded subset of the public suffix
  * list — a 100 TB deployment would load the full PSL the same way
  * the tokenizer loads its artifact; the LOOKUP SHAPE (longest-match
  * on the label tail) is what this operator pins.
  */
object UrlOps {

  def canonicalizeUrl(url: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      UrlCanonExpr(org.apache.spark.sql.GraftBridge.expression(url)))

  def registrableDomain(host: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      UrlDomainExpr(org.apache.spark.sql.GraftBridge.expression(host)))

  /** Host of a canonical (or any absolute) URL, NULL when unparsable —
    * the bridge from [[canonicalizeUrl]] to [[registrableDomain]].
    */
  def urlHost(url: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      UrlHostExpr(org.apache.spark.sql.GraftBridge.expression(url)))

  /** eTLD+1 against an ARTIFACT-loaded public suffix list
    * ([[PslStore]]) — the full-PSL load path the embedded snapshot
    * stands in for. The version pins at CONSTRUCTION
    * ([[VersionedSlots.Files.at]]: negative = latest at construction,
    * 0 invalid), and the parsed rules ship inside the expression.
    */
  def registrableDomainFrom(host: Column, dir: String,
                            version: Int = -1): Column = {
    val (v, art) = PslStore.Slots.at(dir, version)
    org.apache.spark.sql.GraftBridge.column(
      UrlDomainArtifactExpr(
        org.apache.spark.sql.GraftBridge.expression(host),
        PslStore.parseRules(art.rules), v))
  }

  /** RFC 3986 §5 reference resolution: resolve `ref` (any reference —
    * absolute, protocol-relative, absolute-path, relative-path,
    * query-only, fragment-only) against absolute `base`, NULL when the
    * base itself has no scheme. The crawl-frontier bridge between
    * [[graft.functions.HtmlLinks]] (raw hrefs) and
    * [[canonicalizeUrl]] (the dedup key): resolution is the STRICT
    * §5.2.2 algorithm verbatim (no case/percent normalization — those
    * are canonicalization's job), so `javascript:`/`mailto:` refs pass
    * through by scheme for the caller to filter.
    */
  def resolveUrl(base: Column, ref: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      UrlResolveExpr(
        org.apache.spark.sql.GraftBridge.expression(base),
        org.apache.spark.sql.GraftBridge.expression(ref)))

  private[functions] val trackingParams: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("fbclid", "gclid", "msclkid", "mc_cid", "mc_eid").foreach(s.add)
    s
  }

  // ASCII-case-insensitive, matching the parser's handling of scheme,
  // host and charset labels: '?UTM_Source=x' and '?utm_source=x' must
  // key the page identically (the parameter's ORIGINAL case is never
  // rejoined — matched params are dropped, survivors keep their case).
  private[functions] def isTracking(name: String): Boolean = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    n.startsWith("utm_") || trackingParams.contains(n)
  }

  private[functions] val multiLabelSuffixes: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
      "org.au", "co.jp", "ne.jp", "or.jp", "com.br", "com.mx", "co.in",
      "co.nz", "com.cn", "com.tr", "github.io", "gitlab.io",
      "blogspot.com", "herokuapp.com").foreach(s.add)
    s
  }

  /** The shared parse: (scheme, host, port, path, sortedQuery) or null.
    * `port` is -1 when absent or default-for-scheme.
    */
  private[graft] def parseCanonical(url: String)
      : (String, String, Int, String, String) = {
    val ss = url.indexOf("://")
    if (ss <= 0) return null
    val scheme = url.substring(0, ss)
    var i = 0
    while (i < scheme.length) {
      val c = scheme.charAt(i)
      val ok =
        if (i == 0) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        else (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
      if (!ok) return null
      i += 1
    }
    val rest = url.substring(ss + 3)
    // authority ends at the first /, ?, or #
    var authEnd = rest.length
    var k = 0
    while (k < authEnd) {
      val c = rest.charAt(k)
      if (c == '/' || c == '?' || c == '#') authEnd = k
      k += 1
    }
    val auth0 = rest.substring(0, authEnd)
    if (auth0.isEmpty) return null
    // userinfo is dropped from the canonical key: credentials never
    // identify a PAGE, and folding them into the host would corrupt
    // every per-domain policy ('http://trusted.com@evil.com/' must
    // key on evil.com, not on a garbage 'com@evil.com' domain)
    val at = auth0.lastIndexOf('@')
    val auth = if (at < 0) auth0 else auth0.substring(at + 1)
    if (auth.isEmpty) return null
    // bracketed IPv6 literal: the port colon is only AFTER ']' — a
    // bare lastIndexOf(':') would split inside the address and make
    // 'http://[::1]/' and 'http://[::1]:80/' diverge
    val (hostRaw0, portStr) =
      if (auth.charAt(0) == '[') {
        val close = auth.indexOf(']')
        if (close < 0) return null
        val afterBracket = auth.substring(close + 1)
        if (afterBracket.isEmpty) (auth, "")
        else if (afterBracket.charAt(0) == ':')
          (auth.substring(0, close + 1), afterBracket.substring(1))
        else return null
      } else {
        val colon = auth.lastIndexOf(':')
        if (colon < 0) (auth, "")
        else (auth.substring(0, colon), auth.substring(colon + 1))
      }
    // a trailing-dot FQDN ('example.com.') is the same host as its
    // undotted form (WHATWG host normalization) — and an unstripped
    // dot would merge every dotted host of a TLD into the nonsense
    // registrable domain 'com.'
    val hostRaw =
      if (hostRaw0.length > 1 && hostRaw0.endsWith(".") &&
        hostRaw0.charAt(0) != '[')
        hostRaw0.substring(0, hostRaw0.length - 1)
      else hostRaw0
    if (hostRaw.isEmpty) return null
    if (portStr.nonEmpty && !portStr.forall(c => c >= '0' && c <= '9'))
      return null
    // a digit run past the 16-bit port space is junk input, not a
    // port — and an unchecked toInt would throw out of the NULL
    // contract on values past Int.MaxValue
    if (portStr.length > 5 ||
      (portStr.nonEmpty && portStr.toLong > 65535)) return null
    val schemeLc = scheme.toLowerCase
    val port0 = if (portStr.isEmpty) -1 else portStr.toInt
    val port =
      if ((schemeLc == "http" && port0 == 80) ||
        (schemeLc == "https" && port0 == 443)) -1
      else port0
    val tail = rest.substring(authEnd)
    val hashAt = tail.indexOf('#')
    val noFrag = if (hashAt < 0) tail else tail.substring(0, hashAt)
    val qAt = noFrag.indexOf('?')
    val path0 = if (qAt < 0) noFrag else noFrag.substring(0, qAt)
    val path = if (path0.isEmpty) "/" else path0
    val query =
      if (qAt < 0) ""
      else {
        val params = noFrag.substring(qAt + 1).split("&", -1).toSeq
          .filter(_.nonEmpty)
          .filterNot { p =>
            val eq = p.indexOf('=')
            isTracking(if (eq < 0) p else p.substring(0, eq))
          }
        if (params.isEmpty) ""
        else params.sorted(utf8ByteOrder).mkString("&")
      }
    (schemeLc, hostRaw.toLowerCase, port, path, query)
  }

  private[graft] def canonical(url: String): String = {
    val p = parseCanonical(url)
    if (p == null) return null
    val (scheme, host, port, path, query) = p
    val sb = new java.lang.StringBuilder(url.length)
    sb.append(scheme).append("://").append(host)
    if (port >= 0) sb.append(':').append(port)
    sb.append(path)
    if (query.nonEmpty) sb.append('?').append(query)
    sb.toString
  }

  /** The byte order the canonicalization contract pins (item 5):
    * UTF-8 bytes compared unsigned. Scala's default String ordering
    * compares UTF-16 code units, which diverges for supplementary
    * characters (U+FFFD sorts AFTER U+10000 in UTF-16 units but
    * BEFORE it in UTF-8 bytes) — a second implementation following
    * the stated contract would produce a different canonical string.
    */
  private val utf8ByteOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(ab.length, bb.length)
      while (i < n) {
        val d = (ab(i) & 0xFF) - (bb(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      ab.length - bb.length
    }
  }

  /** RFC 3986 appendix-B component split, regex-free: (scheme,
    * authority, path, query, fragment) with null for ABSENT components
    * (an empty query `?` is present-and-empty — `null` vs `""`
    * matters to the resolution algorithm).
    */
  private[graft] def splitRef(ref: String)
      : (String, String, String, String, String) = {
    var rest = ref
    var scheme: String = null
    val colon = rest.indexOf(':')
    if (colon > 0) {
      var ok = true
      var i = 0
      while (i < colon && ok) {
        val c = rest.charAt(i)
        ok =
          if (i == 0) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
          else (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
        i += 1
      }
      if (ok) {
        // the colon is a scheme separator only BEFORE the first
        // /, ? or # — 'dir/a:b' is a relative path, not a scheme
        var stop = -1
        var k = 0
        while (k < rest.length && stop < 0) {
          val c = rest.charAt(k)
          if (c == '/' || c == '?' || c == '#') stop = k
          k += 1
        }
        if (stop < 0 || colon < stop) {
          scheme = rest.substring(0, colon)
          rest = rest.substring(colon + 1)
        }
      }
    }
    var authority: String = null
    if (rest.startsWith("//")) {
      var e = 2
      while (e < rest.length && rest.charAt(e) != '/' &&
        rest.charAt(e) != '?' && rest.charAt(e) != '#') e += 1
      authority = rest.substring(2, e)
      rest = rest.substring(e)
    }
    var fragment: String = null
    val h = rest.indexOf('#')
    if (h >= 0) {
      fragment = rest.substring(h + 1); rest = rest.substring(0, h)
    }
    var query: String = null
    val q = rest.indexOf('?')
    if (q >= 0) {
      query = rest.substring(q + 1); rest = rest.substring(0, q)
    }
    (scheme, authority, rest, query, fragment)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments, verbatim. */
  private[graft] def removeDotSegments(path: String): String = {
    val out = new java.lang.StringBuilder(path.length)
    def pop(): Unit = {
      var i = out.length - 1
      while (i >= 0 && out.charAt(i) != '/') i -= 1
      out.setLength(math.max(i, 0))
    }
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); pop() }
      else if (in == "/..") { in = "/"; pop() }
      else if (in == "." || in == "..") in = ""
      else {
        var s = if (in.charAt(0) == '/') 1 else 0
        while (s < in.length && in.charAt(s) != '/') s += 1
        out.append(in, 0, s)
        in = in.substring(s)
      }
    }
    out.toString
  }

  /** RFC 3986 §5.2.3 merge. */
  private def mergePaths(baseAuth: String, basePath: String,
                         refPath: String): String =
    if (baseAuth != null && basePath.isEmpty) "/" + refPath
    else {
      val slash = basePath.lastIndexOf('/')
      if (slash < 0) refPath
      else basePath.substring(0, slash + 1) + refPath
    }

  /** §5.2.2 strict transform — see [[resolveUrl]]. */
  private[graft] def resolveRef(base: String, ref: String): String = {
    val (bs, ba, bp, bq, _) = splitRef(base)
    if (bs == null) return null
    val (rs, ra, rp, rq, rf) = splitRef(ref)
    var ts: String = null
    var ta: String = null
    var tp = ""
    var tq: String = null
    if (rs != null) { ts = rs; ta = ra; tp = removeDotSegments(rp); tq = rq }
    else {
      ts = bs
      if (ra != null) { ta = ra; tp = removeDotSegments(rp); tq = rq }
      else {
        ta = ba
        if (rp.isEmpty) { tp = bp; tq = if (rq != null) rq else bq }
        else {
          tp = removeDotSegments(
            if (rp.charAt(0) == '/') rp else mergePaths(ba, bp, rp))
          tq = rq
        }
      }
    }
    val sb = new java.lang.StringBuilder(
      base.length + ref.length)
    sb.append(ts).append(':')
    if (ta != null) sb.append("//").append(ta)
    sb.append(tp)
    if (tq != null) sb.append('?').append(tq)
    if (rf != null) sb.append('#').append(rf)
    sb.toString
  }

  private[graft] def domainOf(host: String): String = {
    // IPv6 literals (and any bracketed/colon host) are their own
    // policy unit — label splitting would shred the address
    if (host.indexOf(':') >= 0 || host.startsWith("[")) return host
    val labels = host.split("\\.", -1)
    if (labels.length <= 1) return host
    if (labels.forall(l => l.nonEmpty && l.forall(c => c >= '0' && c <= '9')))
      return host // IPv4 literal
    val last2 = labels(labels.length - 2) + "." + labels(labels.length - 1)
    if (multiLabelSuffixes.contains(last2) && labels.length >= 3)
      labels(labels.length - 3) + "." + last2
    else last2
  }
}

/** `url_canonical(url)` → canonical string or NULL ([[UrlOps]]). */
case class UrlCanonExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_canonical"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string url",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val c = UrlOps.canonical(input.asInstanceOf[UTF8String].toString)
    if (c == null) null else UTF8String.fromString(c)
  }

  override protected def withNewChildInternal(newChild: Expression): UrlCanonExpr =
    copy(child = newChild)
}

/** `url_resolve(base, ref)` → the reference resolved against the base
  * per RFC 3986 §5 (strict), or NULL when the base has no scheme
  * ([[UrlOps.resolveUrl]]).
  */
case class UrlResolveExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_resolve"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "string base and ref",
      (left.dataType.catalogString, TextExprTypes.isString(left.dataType)),
      (right.dataType.catalogString, TextExprTypes.isString(right.dataType)))

  override protected def nullSafeEval(base: Any, ref: Any): Any = {
    val r = UrlOps.resolveRef(base.asInstanceOf[UTF8String].toString,
      ref.asInstanceOf[UTF8String].toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlResolveExpr =
    copy(left = newLeft, right = newRight)
}

/** `url_host(url)` → lowercase host or NULL ([[UrlOps]]). */
case class UrlHostExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_host"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string url",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val p = UrlOps.parseCanonical(input.asInstanceOf[UTF8String].toString)
    if (p == null) null else UTF8String.fromString(p._2)
  }

  override protected def withNewChildInternal(newChild: Expression): UrlHostExpr =
    copy(child = newChild)
}

/** `registrable_domain(host)` → eTLD+1 per the embedded suffix
  * snapshot ([[UrlOps]]).
  */
case class UrlDomainExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "registrable_domain"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string host",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      UrlOps.domainOf(input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(newChild: Expression): UrlDomainExpr =
    copy(child = newChild)
}

/** `registrable_domain_v(host)` → eTLD+1 against an ARTIFACT-loaded
  * public suffix list ([[PslStore]]), or NULL when the host IS a
  * public suffix. The rule set parses ONCE at construction on the
  * driver and ships inside the expression — executors never read the
  * store, the `tokenize_from_artifact` shape. `version` names the
  * pinned artifact (provenance in the plan, like the tokenizer's pin).
  */
case class UrlDomainArtifactExpr(child: Expression,
                                 rules: PslStore.Rules, version: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = s"registrable_domain_v$version"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string host",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val d = rules.registrable(input.asInstanceOf[UTF8String].toString)
    if (d == null) null else UTF8String.fromString(d)
  }

  override protected def withNewChildInternal(newChild: Expression): UrlDomainArtifactExpr =
    copy(child = newChild)
}
