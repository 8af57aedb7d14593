package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization — the step BEFORE content dedup in a web-scale
  * corpus pipeline (CommonCrawl-style): the same page is fetched as
  * `HTTPS://Site.com/a/?utm_source=x&b=2&a=1`, `https://site.com/a?a=1&b=2`,
  * and `https://www.site.com/a/#top`, and a URL-level exact dedup
  * (cheap: one hash groupBy on the canonical form) collapses those
  * refetches without ever touching document bytes. Canonicalization is
  * only useful if it is DETERMINISTIC — same rules on every engine and
  * every run — so every rule here is a pure string/regex/array program
  * with an exact DuckDB mirror ([[canonicalizeUrlSql]]), proven
  * hash-identical by the q_url_normalize oracle row.
  *
  * Rules (the conservative, widely-safe subset):
  *   - scheme and host lowercased; `www.` prefix and default ports
  *     (`:80` http, `:443` https) dropped from the host
  *   - fragment dropped (never sent to the server)
  *   - trailing slashes dropped from the path; empty path → `/`
  *   - tracking params dropped (`utm_*`, `gclid`, `fbclid`), remaining
  *     params sorted byte-wise (query-order-insensitive servers are the
  *     norm; opt out by not canonicalizing), empty query dropped
  *   - anything without `scheme://host` → NULL (not a fetchable URL)
  *
  * Map-only whole-stage-codegen Column program — composes with
  * pushdown and costs one projection; no UDF, no shuffle.
  */
object Urls {

  private val SchemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
  private val HostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)"
  private val PathRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?]*)"
  private val TrackingRe = "^(utm_[^=]*|gclid|fbclid)(=|$)"

  /** Canonical form of `url`, NULL when `url` has no scheme://host. */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*", "") // fragment off first
    val scheme = lower(regexp_extract(u, SchemeRe, 1))
    val hostPort = lower(regexp_extract(u, HostRe, 1))
    val hostNoPort = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val host = regexp_replace(hostNoPort, "^www\\.", "")
    val rawPath = regexp_extract(u, PathRe, 1)
    val trimmed = regexp_replace(rawPath, "/+$", "")
    val path = when(trimmed === "", lit("/")).otherwise(trimmed)
    // after the FIRST '?' (substring_index(-1) would take the last)
    val rawQuery = when(instr(u, "?") > 0, u.substr(instr(u, "?") + 1, length(u))).otherwise(lit(""))
    val params = array_join(
      array_sort(filter(split(rawQuery, "&"),
        p => p =!= "" && !p.rlike(TrackingRe))), "&")
    val query = when(params === "", lit("")).otherwise(concat(lit("?"), params))
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path, query))
  }

  /** DuckDB mirror of [[canonicalizeUrl]] over the SQL fragment
    * `urlExpr` — step-for-step the same regex/array program (probed:
    * both engines return '' from regexp_extract on no-match, split ''
    * → [''], sort strings byte-wise), so the canonical strings are
    * bit-identical.
    */
  def canonicalizeUrlSql(urlExpr: String): String = {
    val u = s"regexp_replace($urlExpr, '#.*', '')"
    val scheme = s"lower(regexp_extract($u, '$SchemeRe', 1))"
    val hostPort = s"lower(regexp_extract($u, '$HostRe', 1))"
    val hostNoPort =
      s"""CASE WHEN $scheme = 'http' THEN regexp_replace($hostPort, ':80$$', '')
         |     WHEN $scheme = 'https' THEN regexp_replace($hostPort, ':443$$', '')
         |     ELSE $hostPort END""".stripMargin
    val host = s"regexp_replace($hostNoPort, '^www\\.', '')"
    val rawPath = s"regexp_extract($u, '$PathRe', 1)"
    val trimmed = s"regexp_replace($rawPath, '/+$$', '')"
    val path = s"CASE WHEN $trimmed = '' THEN '/' ELSE $trimmed END"
    val rawQuery = s"CASE WHEN strpos($u, '?') > 0 THEN substr($u, strpos($u, '?') + 1) ELSE '' END"
    // coalesce: DuckDB's array_to_string([]) is NULL, Spark's
    // array_join([]) is '' — pin the Spark semantics.
    val params =
      s"""coalesce(array_to_string(list_sort(list_filter(string_split($rawQuery, '&'),
         |  p -> p <> '' AND NOT regexp_matches(p, '$TrackingRe'))), '&'), '')""".stripMargin
    val query = s"CASE WHEN $params = '' THEN '' ELSE '?' || $params END"
    s"""CASE WHEN $scheme = '' OR $host = '' THEN NULL
       |     ELSE $scheme || '://' || $host || $path || $query END""".stripMargin
  }

  /** PATH-HIERARCHY rollup over (canonical) URLs: every URL
    * contributes one row per ancestor — `host` at depth 0,
    * `host/seg₁` at 1, `host/seg₁/seg₂` at 2, … up to `maxDepth` —
    * and the counts aggregate per prefix: the site-structure view
    * web analytics and crawl budgeting read ("how much of
    * example.com is under /docs?"). Pass URLs through
    * [[canonicalizeUrl]] FIRST so spelling variants of one page roll
    * up together; rows whose host can't be extracted are dropped
    * (the canonicalizer already turned junk into NULL).
    *
    * Returns `(prefix, depth, n_urls)`. Map-side: one regex split +
    * a bounded `transform`/`explode` (fan-out ≤ maxDepth + 1), one
    * hash agg — fuses into the scan; all-string/integer, mirrored by
    * the same regex/list program.
    */
  def pathPrefixCounts(df: DataFrame, url: Column, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val u = regexp_replace(url, "\\?.*", "")
    val host = regexp_extract(u, HostRe, 1)
    val segs = filter(split(regexp_extract(u, PathRe, 1), "/"), s => s =!= "")
    val pref = transform(
      sequence(lit(0), least(size(segs), lit(maxDepth))),
      d => struct(d.cast("long").as("depth"),
        when(d === 0, host)
          .otherwise(concat(host, lit("/"), array_join(slice(segs, lit(1), d), "/")))
          .as("prefix")))
    df.filter(host =!= "" && url.isNotNull)
      .select(explode(pref).as("p"))
      .groupBy(col("p.prefix").as("prefix"), col("p.depth").as("depth"))
      .agg(count(lit(1)).as("n_urls"))
  }

  /** DuckDB mirror of [[pathPrefixCounts]] over a CTE `c(u)` of
    * non-NULL canonical URLs.
    */
  def pathPrefixCountsSql(maxDepth: Int): String =
    s"""b AS (SELECT regexp_replace(u, '\\?.*', '') AS u0 FROM c),
       |h AS (
       |  SELECT regexp_extract(u0, '$HostRe', 1) AS host,
       |    list_filter(string_split(regexp_extract(u0, '$PathRe', 1), '/'),
       |      s -> s <> '') AS segs
       |  FROM b),
       |e AS (
       |  SELECT CASE WHEN t.d = 0 THEN host
       |              ELSE host || '/' || coalesce(array_to_string(segs[1:t.d], '/'), '')
       |         END AS prefix,
       |         CAST(t.d AS BIGINT) AS depth
       |  FROM h, UNNEST(range(0, least(len(segs), $maxDepth) + 1)) AS t(d)
       |  WHERE host <> '')
       |SELECT prefix, depth, count(*) AS n_urls FROM e GROUP BY 1, 2""".stripMargin
}
