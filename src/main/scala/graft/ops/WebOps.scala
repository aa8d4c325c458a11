package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Web-corpus operators: URL canonicalization for URL-level dedup.
  * Pure Column expressions (codegen'd, row-local, no shuffle) so the scan
  * can canonicalize billions of URLs inline before a groupBy/dedup. */
object WebOps {

  /** Canonicalize a URL the way web-scale dedup pipelines normalize before
    * URL-level grouping (RFC 3986 §6 syntax-based normalization subset +
    * the de-facto tracking-param strip):
    *
    *   - scheme and host lowercase (case-insensitive per the RFC);
    *   - default ports stripped (`:80` for http, `:443` for https);
    *   - empty path → `/`;
    *   - fragment dropped (never sent to the server);
    *   - `utm_*` tracking params dropped, remaining query params SORTED
    *     (param order is almost always insignificant; sorting makes
    *     `?a=1&b=2` ≡ `?b=2&a=1` for dedup purposes).
    *
    * Path case and non-utm params are preserved (paths ARE case-sensitive).
    * Scheme-less / malformed URLs pass through UNCHANGED except for the
    * fragment drop — never collapsed into a shared canonical form, so
    * URL-level dedup cannot merge distinct malformed URLs. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .otherwise(hostPort)
    val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    // Anchored pre-fragment match: a '?' inside the fragment (http://h/p#sec?x=1)
    // must NOT fabricate a query — [^#]*? cannot cross the first '#'.
    val query = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
    // drop every utm_ param where it starts (at the front or after '&'),
    // then the empty pieces the cut and any '&&' leave behind
    val params = array_remove(
      split(regexp_replace(query, "(^|&)utm_[^&]*", ""), "&"), "")
    val sortedQuery = array_join(sort_array(params), "&")
    when(scheme === "", regexp_replace(url, "#.*$", ""))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(sortedQuery === "", lit("")).otherwise(concat(lit("?"), sortedQuery))))
  }
}
