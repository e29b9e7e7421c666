package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization for web-corpus curation — the standard first
  * step of URL-level dedup in CommonCrawl-style pipelines (dedup by
  * canonical URL before any content hashing; cf. the reference's
  * normalize-then-join discipline for text keys, `code/recipes.py`
  * normalization steps around :1742).
  *
  * Everything here is pure `Column` arithmetic (regexp + array ops —
  * native Catalyst expressions throughout, no UDF; the param-sort
  * lambdas are higher-order functions, which stay native but outside
  * whole-stage codegen): row-local, shuffle-free, and replayable in an
  * external SQL engine — q69 hash-checks the normalizer against an
  * INDEPENDENT closed-form spelling of its expected output, not a
  * re-run of the same code.
  *
  * Canonical form (each choice is the common pipeline convention):
  *   - scheme and host lowercased; path/query case PRESERVED
  *     (paths are case-sensitive by spec)
  *   - userinfo (`user:password@`) dropped
  *   - every leading `www.` stripped from the host (all of them, not
  *     one — canonical output must be its own fixed point, see
  *     the idempotence property test)
  *   - default ports dropped (`:80` http, `:443` https); explicit
  *     non-default ports kept
  *   - fragment dropped
  *   - tracking params dropped (`utm_*`, `gclid`, `fbclid`,
  *     `msclkid`, `igshid`, `mc_eid`), remaining params sorted
  *     lexicographically (order never carries meaning in practice,
  *     and sorting makes equal-content URLs string-equal)
  *   - empty path → `/`
  * Non-URLs (no `scheme://`) normalize to NULL — bad rows are data,
  * not errors, same contract as the media codecs. */
object UrlTools {

  private val trackingRe =
    "^(utm_[^=]*|gclid|fbclid|msclkid|igshid|mc_eid)="

  /** Multi-part public suffixes recognized by [[registeredDomain]].
    * A short built-in list of the common ccTLD second levels — the
    * full public-suffix list is a deployment-provided table; this
    * covers the pipeline-test surface and documents the extension
    * point. */
  private val multiPartTlds = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "co.jp", "co.in", "co.kr", "co.za",
    "com.au", "com.br", "com.cn", "com.mx", "com.tr", "com.sg")

  private def afterScheme(c: Column): Column =
    regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*://", "")

  private def hostPort(c: Column): Column =
    regexp_extract(afterScheme(c), "^([^/?#]*)", 1)

  /** Host cleanup shared by [[host]] and [[normalizeUrl]]: drop
    * userinfo (`user:pass@` — canonical URLs carry no credentials),
    * lowercase, strip the port and EVERY leading `www.` (`(www\.)+`,
    * not one: canonicalization must be idempotent — its output must be
    * its own fixed point, or url-dedup of already-canonical data would
    * disagree with url-dedup of raw data). */
  private def cleanHost(hp: Column): Column =
    regexp_replace(regexp_replace(
      lower(regexp_replace(hp, "^[^@/]*@", "")), ":\\d+$", ""),
      "^(www\\.)+", "")

  /** Lowercased host without userinfo, port, or leading `www.`s. */
  def host(url: Column): Column = {
    val t = trim(url)
    when(regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1) === "",
      lit(null).cast("string"))
      .otherwise(cleanHost(hostPort(t)))
  }

  /** Canonical URL (see object doc) or NULL for non-URLs. */
  def normalizeUrl(url: Column): Column = {
    val t = trim(url)
    val scheme = lower(regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // (?s): Java-regex '.' excludes newlines by default, so a fragment
    // containing one (messy web data) would leak '#…' into the
    // canonical form and break the no-fragment invariant
    val noFrag = regexp_replace(afterScheme(t), "(?s)#.*$", "")
    val hp = regexp_extract(noFrag, "^([^/?]*)", 1)
    val pathQuery = substr(noFrag, length(hp) + 1)
    val path0 = regexp_extract(pathQuery, "^([^?]*)", 1)
    val query = when(contains(pathQuery, lit("?")),
      regexp_replace(pathQuery, "^[^?]*\\?", "")).otherwise(lit(""))
    val port = regexp_extract(lower(hp), ":(\\d+)$", 1)
    val h = cleanHost(hp)
    val defPort = when(scheme === "http", "80")
      .when(scheme === "https", "443").otherwise(lit(""))
    val portPart = when(port === "" || port === defPort, "")
      .otherwise(concat(lit(":"), port))
    val params = sort_array(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(trackingRe)))
    val queryPart = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    val pathPart = when(path0 === "", "/").otherwise(path0)
    when(scheme === "" || h === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), h, portPart, pathPart, queryPart))
  }

  /** Registered (pay-level) domain of a URL: last two host labels, or
    * last three when the last two are a known multi-part public suffix
    * ([[multiPartTlds]]). NULL for non-URLs. */
  def registeredDomain(url: Column): Column = {
    val h = host(url)
    val labels = split(h, "\\.")
    val n = size(labels)
    val lastTwo = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val tlds = array(multiPartTlds.map(lit): _*)
    when(h.isNull, lit(null).cast("string"))
      .when(n >= 3 && array_contains(tlds, lastTwo),
        concat_ws(".", element_at(labels, -3), lastTwo))
      .when(n >= 2, lastTwo)
      .otherwise(h)
  }

  /** Drop rows whose canonical URL repeats, keeping the minimum id per
    * canonical form (deterministic). Rows whose URL does not normalize
    * (NULL canonical) are ALL kept — a malformed URL is not a duplicate
    * of every other malformed URL; the shared exact-key keeper contract
    * (Dedup.keepMinPerKey). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    graft.dedup.Dedup.keepMinPerKey(df, idCol, normalizeUrl(col(urlCol)))

  /** Per-registered-domain corpus profile — the aggregation behind
    * host/domain-level curation decisions (CommonCrawl-style pipelines
    * rank and cut whole domains before touching row-level quality;
    * cf. the reference's groupby/agg step, `code/recipes.py` around
    * :1080, applied to the web-curation key):
    *   - `n_docs`   rows carrying the domain
    *   - `n_urls`   distinct CANONICAL urls (so `n_docs / n_urls` is
    *                the domain's url-duplication factor)
    *   - `w_sum`    sum of `weightCol` (chars, tokens, bytes — the
    *                caller's volume metric), LongType
    * Rows whose URL has no registered domain (malformed) aggregate
    * under the NULL domain so volume is never silently dropped.
    *
    * Scale shape: one map-side-combined groupBy on the domain string;
    * the distinct-url count is a two-level aggregate Catalyst plans as
    * partial-distinct → final (no extra user-visible stage). Domains
    * are a heavy-tailed key (a 100-TB crawl has single domains with
    * 10⁸ pages) but the combine runs BEFORE the exchange, so the
    * reduce side only merges per-partition partials — skew shows up as
    * one hot reducer merging longs, not as a data pileup. */
  def domainStats(df: DataFrame, urlCol: String, weightCol: String): DataFrame =
    df.select(registeredDomain(col(urlCol)).as("domain"),
        normalizeUrl(col(urlCol)).as("__url_norm"),
        col(weightCol).cast("long").as("__w"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__url_norm")).as("n_urls"),
        sum("__w").as("w_sum"))

  /** Drop rows whose REGISTERED DOMAIN appears in a blocklist table —
    * the standard first cut of web curation (UT1/adult/spam domain
    * lists), applied before any content processing so blocked volume
    * never costs a decode or a shuffle downstream.
    *
    * The blocklist is a DECLARED-SMALL curation artifact (the common
    * public lists run 10⁵–10⁶ domains ≈ tens of MB hashed), so it is
    * statically broadcast and the corpus side stays map-side — zero
    * corpus shuffle, same discipline as the Bloom-prefilter path. This
    * is in contract with SCALE.md's "no unestimable static broadcasts"
    * rule: the list is a user-provided input of declared bounded size,
    * not a derived table the planner can't see. Rows with no
    * registered domain (malformed URLs) are KEPT — NULL never equals a
    * blocklist entry, and a malformed URL is data for downstream
    * quality filters, not an implicit block. Blocklist entries are
    * matched as registered domains exactly (subdomains of a blocked
    * domain share its registered domain, so they are blocked too). */
  def blocklistFilter(df: DataFrame, urlCol: String,
      blocklist: DataFrame, domainCol: String): DataFrame = {
    val blocked = broadcast(
      blocklist.select(lower(trim(col(domainCol))).as("__blocked_domain")))
    df.join(blocked,
      registeredDomain(col(urlCol)) === col("__blocked_domain"), "left_anti")
  }
}
