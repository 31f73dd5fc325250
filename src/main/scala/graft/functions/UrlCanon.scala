package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}

/** URL canonicalization for web-corpus dedup — the crawl-side twin of
  * the reference's synthetic-url discipline (transform_data.py:344-356
  * treats the URL as the record identity; a curation pipeline needs the
  * IDENTITY to survive cosmetic variation). Deterministic, documented
  * rules only — no network, no IDN table, so two engines agree byte-
  * for-byte:
  *
  *   - scheme and host lowercased; missing scheme defaults to http
  *   - default ports dropped (:80 for http, :443 for https)
  *   - fragment dropped
  *   - path: duplicate slashes collapsed, "/./" segments removed,
  *     empty path becomes "/" ( ".." is preserved, declared — resolving
  *     it changes semantics behind symlinked trees)
  *   - query: tracking params dropped (utm_* prefix, fbclid, gclid,
  *     msclkid, mc_eid, igshid, ref), remaining "k=v" atoms sorted
  *     lexicographically as whole strings, rejoined with '&'; an empty
  *     survivor set drops the '?'
  *
  * Exposed as an EvalCallCodegen expression so it rides whole-stage
  * codegen like NfcNormalizeExpr. */
object UrlCanon {

  private val trackingExact = Set("fbclid", "gclid", "msclkid", "mc_eid",
    "igshid", "ref")

  private def isTracking(param: String): Boolean = {
    val key = param.indexOf('=') match {
      case -1 => param
      case i => param.substring(0, i)
    }
    val k = key.toLowerCase
    k.startsWith("utm_") || trackingExact(k)
  }

  def canonicalize(url: String): String = {
    if (url == null) return null
    val trimmed = url.trim
    if (trimmed.isEmpty) return ""
    // fragment off first — it is never part of identity
    val noFrag = trimmed.indexOf('#') match {
      case -1 => trimmed
      case i => trimmed.substring(0, i)
    }
    // "://" only separates a scheme when it precedes the first '/' or
    // '?' — a scheme-less URL with an absolute URL in its QUERY
    // ("a.com/r?next=https://b.com") must not adopt b.com as authority
    val sep = noFrag.indexOf("://")
    val firstBreak = noFrag.indexWhere(c => c == '/' || c == '?')
    val (scheme, rest) =
      if (sep >= 0 && (firstBreak < 0 || sep < firstBreak))
        (noFrag.substring(0, sep).toLowerCase, noFrag.substring(sep + 3))
      else ("http", noFrag)
    val authEnd = rest.indexWhere(c => c == '/' || c == '?')
    val (auth, tail) =
      if (authEnd < 0) (rest, "")
      else (rest.substring(0, authEnd), rest.substring(authEnd))
    val authLc = auth.toLowerCase
    val hostPort = authLc match {
      case h if scheme == "http" && h.endsWith(":80") => h.dropRight(3)
      case h if scheme == "https" && h.endsWith(":443") => h.dropRight(4)
      case h => h
    }
    val (rawPath, rawQuery) = tail.indexOf('?') match {
      case -1 => (tail, null)
      case i => (tail.substring(0, i), tail.substring(i + 1))
    }
    var path = if (rawPath.isEmpty) "/" else rawPath
    while (path.contains("//")) path = path.replace("//", "/")
    while (path.contains("/./")) path = path.replace("/./", "/")
    if (path.endsWith("/.")) path = path.dropRight(1)
    val query =
      if (rawQuery == null) null
      else {
        val kept = rawQuery.split("&").filter(_.nonEmpty)
          .filterNot(isTracking).sorted
        if (kept.isEmpty) null else kept.mkString("&")
      }
    scheme + "://" + hostPort + path +
      (if (query == null) "" else "?" + query)
  }

  /** Registered host of a canonical URL (the authority without port) —
    * the key of per-domain caps and host-level rollups. */
  def host(url: String): String = {
    if (url == null) return null
    val c = canonicalize(url)
    if (c.isEmpty) return ""
    val afterScheme = c.indexOf("://") match {
      case -1 => c
      case i => c.substring(i + 3)
    }
    // authority first (to the first '/' or '?'), THEN strip userinfo
    // (everything to the last '@' — "user:pass@ex.com" hosts ex.com,
    // not "user") and finally the port
    val authEnd = afterScheme.indexWhere(ch => ch == '/' || ch == '?')
    val auth = if (authEnd < 0) afterScheme
      else afterScheme.substring(0, authEnd)
    val noUser = auth.lastIndexOf('@') match {
      case -1 => auth
      case i => auth.substring(i + 1)
    }
    noUser.indexOf(':') match {
      case -1 => noUser
      case i => noUser.substring(0, i)
    }
  }

  def canonicalizeUrl(c: Column): Column = toCol(CanonUrlExpr(toExpr(c)))
  def urlHost(c: Column): Column = toCol(UrlHostExpr(toExpr(c)))
}

case class CanonUrlExpr(child: Expression)
    extends UnaryExpression with EvalCallCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      UrlCanon.canonicalize(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): CanonUrlExpr =
    copy(child = c)
}

case class UrlHostExpr(child: Expression)
    extends UnaryExpression with EvalCallCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      UrlCanon.host(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): UrlHostExpr =
    copy(child = c)
}
