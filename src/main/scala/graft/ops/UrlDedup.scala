package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** URL-canonicalization dedup — a standard web-corpus pipeline step:
  * the same page is crawled under fragment/tracking-parameter variants;
  * canonicalize, then keep the first row per canonical url.
  */
object UrlDedup {

  private val TrackingParams = Seq(
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref", "mc_cid", "mc_eid")

  /** Pure canonicalizer: lowercase scheme+host, strip fragment, strip
    * default ports, strip tracking params, drop trailing slash on paths,
    * sort surviving query params. Unparseable urls pass through. */
  def canonicalize(url: String): String = {
    if (url == null || url.isEmpty) return url
    try {
      val u = new java.net.URI(url.trim)
      if (u.getScheme == null || u.getHost == null) return url
      val scheme = u.getScheme.toLowerCase(java.util.Locale.ROOT)
      val host = u.getHost.toLowerCase(java.util.Locale.ROOT)
      val port = u.getPort match {
        case -1 => ""
        case 80 if scheme == "http" => ""
        case 443 if scheme == "https" => ""
        case p => s":$p"
      }
      var path = Option(u.getRawPath).getOrElse("")
      if (path.length > 1 && path.endsWith("/")) path = path.dropRight(1)
      if (path.isEmpty) path = "/"
      val query = Option(u.getRawQuery)
        .map(_.split('&').toSeq
          .filter(p => p.nonEmpty &&
            !TrackingParams.contains(p.takeWhile(_ != '=').toLowerCase(java.util.Locale.ROOT)))
          .sorted)
        .filter(_.nonEmpty)
        .map(_.mkString("?", "&", ""))
        .getOrElse("")
      s"$scheme://$host$port$path$query"
    } catch {
      case _: Exception => url
    }
  }

  private val canonicalUdf = udf((u: String) => canonicalize(u))

  /** Adds a canonical_url column (narrow). */
  def withCanonicalUrl(df: DataFrame, urlCol: String = "url"): DataFrame =
    df.withColumn("canonical_url", canonicalUdf(col(urlCol)))

  /** Keep one row per canonical url (lowest original url wins —
    * deterministic). One shuffle on the canonical key. */
  def dedup(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val w = Window.partitionBy(col("canonical_url")).orderBy(col(urlCol).asc)
    withCanonicalUrl(df, urlCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** SURT form of a url (Sort-friendly URI Reordering Transform — the
    * key format of Common-Crawl/wayback CDX indexes): canonicalize,
    * then drop the scheme, reverse the host labels comma-joined, close
    * with `)` and append path + sorted query. Sorting SURT keys groups
    * a registered domain's subdomains together — the property CDX
    * consumers range-scan on ("com,example)/a" < "com,example,www)/").
    * Unparseable urls fall back to the canonical string (never null,
    * never throws — crawl data). */
  def surtKey(url: String): String = {
    val c = canonicalize(url)
    if (c == null || c.isEmpty) return c
    try {
      val u = new java.net.URI(c)
      if (u.getScheme == null || u.getHost == null) return c
      val host = u.getHost.split('.').reverse.mkString(",")
      val port = if (u.getPort == -1) "" else s":${u.getPort}"
      val path = Option(u.getRawPath).filter(_.nonEmpty).getOrElse("/")
      val query = Option(u.getRawQuery).map("?" + _).getOrElse("")
      s"$host$port)$path$query"
    } catch {
      case _: Exception => c
    }
  }
}
