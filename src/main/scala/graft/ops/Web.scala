package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-payload processing — the step between a crawl archive and a text
  * corpus: split HTTP responses out of WARC `response` payloads and
  * strip HTML down to text (the boilerplate-removal pass every
  * published web-corpus pipeline runs before quality filtering).
  *
  * Everything here is COMPOSED from built-in codegen'd expressions
  * (regexp/substring/replace) — no UDF, no custom kernel — so the whole
  * extraction rides whole-stage codegen inside the scan span, and an
  * external SQL engine can replay it operator for operator (the oracle
  * device: the same regex chain in the same order).
  *
  * The HTML strip is the deliberately simple tag-grammar pass (drop
  * script/style/comment blocks, drop tags, decode the common entities,
  * collapse whitespace) — the published C4/CCNet-class cleanup, not a
  * browser-grade DOM parse.
  */
object Web {

  /** HTTP head (status line + headers): everything before the first
    * CRLFCRLF. `substring_index` returns the whole string when the
    * separator is absent — a headerless payload yields itself as head
    * and an empty body, never an error.
    */
  def httpHead(payload: Column): Column =
    substring_index(payload, "\r\n\r\n", 1)

  /** Status code off the status line (null when not an HTTP response). */
  def httpStatus(payload: Column): Column =
    nullif(regexp_extract(payload, "^HTTP/[0-9.]+ (\\d{3})", 1), lit(""))
      .cast("int")

  /** Case-insensitive header value from the head block (first match),
    * parameters stripped (`text/html; charset=utf-8` -> `text/html`).
    */
  def httpHeader(payload: Column, name: String): Column =
    nullif(trim(regexp_extract(httpHead(payload),
      "(?im)^" + java.util.regex.Pattern.quote(name) + ":\\s*([^\\r\\n;]+)",
      1)), lit(""))

  /** Body: everything after the first CRLFCRLF (empty if none). */
  def httpBody(payload: Column): Column = {
    val head = httpHead(payload)
    when(length(payload) > length(head),
      payload.substr(length(head) + 5, length(payload)))
      .otherwise(lit(""))
  }

  /** The multi-label public suffixes the default [[registrableDomain]]
    * recognizes — a compact subset of the published Public Suffix List
    * covering the common ccTLD second-level registries; swap in the full
    * list for production crawls (the operator takes any set).
    */
  val DefaultMultiSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.kr", "or.kr", "com.mx", "com.ar", "com.tr", "com.tw",
    "co.za", "org.za", "co.nz", "net.nz", "org.nz",
    "com.sg", "com.hk", "com.my", "co.th", "co.id",
    "github.io", "gitlab.io", "blogspot.com")

  /** Scheme, lowercased (empty when the value is not an absolute URL). */
  def urlScheme(u: Column): Column =
    lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))

  private def urlAuthority(u: Column): Column =
    regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1)

  /** Host: authority minus userinfo and port, lowercased. */
  def urlHost(u: Column): Column =
    lower(regexp_extract(urlAuthority(u), "^(?:[^@]*@)?([^:]*)", 1))

  /** Registrable domain (eTLD+1) of a HOST under a multi-label-suffix
    * set: `www.example.co.uk` → `example.co.uk`, `a.b.example.com` →
    * `example.com`. A host that IS a suffix (or a bare label) returns
    * itself — nothing to register below it.
    */
  def registrableDomain(host: Column,
      multiSuffixes: Seq[String] = DefaultMultiSuffixes): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val lastTwo = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val suffixes = array(multiSuffixes.map(lit): _*)
    when(n >= 3 && array_contains(suffixes, lastTwo),
      concat_ws(".", element_at(labels, -3), lastTwo))
      .when(n >= 2 && !array_contains(suffixes, lastTwo), lastTwo)
      .otherwise(host)
  }

  /** Registrable domain under a REAL Public Suffix List: pass the text
    * of a `public_suffix_list.dat`-format file (wildcard `*.ck` and
    * exception `!www.ck` rules included — the cases the compact
    * [[DefaultMultiSuffixes]] subset cannot express). Parsed once per
    * JVM ([[graft.functions.PslKernel]]); each host evaluates in
    * O(labels) hash probes inside codegen.
    */
  def registrableDomainPsl(host: Column, pslText: String): Column =
    graft.functions.registrable_domain_psl(host, pslText)

  /** Canonical URL: scheme+host lowercased, default port dropped
    * (443/https, 80/http), fragment dropped, tracking params removed
    * (`utm_*`, `fbclid`, `gclid`), remaining query params SORTED so
    * equal resources compare equal — the per-URL dedup key of a crawl
    * pipeline. Composed from built-in higher-order array functions;
    * stays in codegen.
    */
  def urlNormalize(u: Column): Column = {
    val scheme = urlScheme(u)
    val auth = urlAuthority(u)
    val host = urlHost(u)
    val port = regexp_extract(auth, ":(\\d+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "https" && port === "443") &&
      !(scheme === "http" && port === "80")
    val path = regexp_extract(u, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"))
    val sortedQ = array_join(array_sort(kept), "&")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      when(path === "", lit("/")).otherwise(path),
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** All `href` values of a page, in document order: the outlink side
    * of a crawl's link graph. The single-pass regex accepts any tag,
    * either quote style, case-insensitive attribute name — and leaves
    * relative/mailto/javascript links to the caller (a link-graph
    * builder wants absolute http(s) only; a frontier expander may want
    * relative links resolved instead). Stays in codegen
    * (`regexp_extract_all`).
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html,
      lit("""(?i)(?<![\w-])href\s*=\s*["']([^"'>]+)["']"""), lit(1))

  /** robots.txt crawl verdict ([[graft.functions.RobotsKernel]] — RFC
    * 9309 subset: group resolution with exact-agent-over-`*`
    * precedence, `*`/`$` path patterns, longest-pattern-wins, allow on
    * ties, allow by default). `robotsText` is the host's robots.txt
    * body (per-row — a crawl frame usually joins it in by host);
    * parsing caches per JVM keyed by content digest, so every page of
    * a host pays one digest + O(rules) probes inside codegen.
    */
  def robotsAllowed(robotsText: Column, path: Column,
      userAgent: String): Column =
    graft.functions.robots_allowed(robotsText, path, userAgent)

  /** Group-resolved `Crawl-delay` (seconds) for the agent — the
    * politeness scheduler's per-host rate input; null when no binding
    * group states one (non-standard directive, ubiquitous in practice;
    * first value per group tier wins, same exact-over-`*` resolution
    * as [[robotsAllowed]]).
    */
  def robotsCrawlDelay(robotsText: Column, userAgent: String): Column =
    graft.functions.robots_crawl_delay(robotsText, userAgent)

  /** Host-level web link graph at eTLD+1 granularity — the input to
    * PageRank-style quality signals ([[Graph.pageRank]]) and to
    * per-domain curation policy: each page contributes one edge per
    * absolute http(s) outlink, aggregated to
    * (src_domain, dst_domain, n_links). Self-edges (intra-domain
    * navigation) are kept — callers that want the inter-domain graph
    * filter `src_domain =!= dst_domain`.
    *
    * Scale shape: one map-only pass (link extraction, host parse, PSL
    * eTLD+1 — all codegen'd scalar work) followed by ONE aggregation
    * shuffle keyed by the domain pair; nothing page-sized survives the
    * explode. The PSL kernel parses once per JVM and probes O(labels)
    * per host ([[registrableDomainPsl]]).
    */
  def linkGraph(pages: DataFrame, urlCol: String, htmlCol: String,
      pslText: String): DataFrame = {
    val src = registrableDomainPsl(urlHost(col(urlCol)), pslText)
    val u = explode(extractLinks(col(htmlCol)))
    pages
      .select(src.as("src_domain"), u.as("__u"))
      .filter(urlScheme(col("__u")).isin("http", "https"))
      .select(col("src_domain"),
        registrableDomainPsl(urlHost(col("__u")), pslText).as("dst_domain"))
      .filter(col("dst_domain") =!= "")
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"))
  }

  /** HTML → text: script/style/comment blocks out, tags out, common
    * entities decoded, whitespace collapsed. Order matters (blocks
    * before tags — a tag-stripped script body would leak as text) and
    * is part of the contract the oracle replays.
    */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    // the frequent entities; &amp; LAST so "&amp;lt;" decodes to "&lt;"
    // (text), not "<" (double decode)
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
