package graft.crawl

import java.nio.charset.StandardCharsets

import graft.urls.{RobotsMatch, UrlCanon}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled per-host robots rule table, shipped inside the
  * [[RobotsAllows]] expression (task-serialized once per stage; rules are
  * ≪ frontier). Keeps the robots filter inside whole-stage codegen —
  * replacing the v0 Scala UDF, which forced an eval fallback in the
  * crawl's hottest filter.
  *
  * The decision runs BYTE-LEVEL on the incoming [[UTF8String]]s (late
  * round 3): the hash probe keys on the UTF8String host directly and the
  * longest-prefix match compares rule-prefix bytes against the URL's
  * path span in place, so the per-row cost is zero allocations — the
  * previous form allocated three Strings per frontier row (host, url,
  * path), which per-stage CPU attribution showed was a top line in
  * the 20 M-row steady-state round (and it runs once per scheduler input
  * row). [[RobotsMatch]]/[[UrlCanon.pathOf]] remain the semantic oracle;
  * RobotsIndexSpec pins byte/String equivalence property-style.
  */
final class RobotsIndex(rulesByHost: Map[String, Array[(Boolean, String)]]) extends Serializable {
  /** UTF8String-keyed probe table; prefixes as UTF-8 bytes. Rebuilt
    * lazily after task deserialization (cost ∝ #rules, not #rows). */
  @transient private lazy val compiled: java.util.HashMap[UTF8String, Array[(Boolean, Array[Byte])]] = {
    val m = new java.util.HashMap[UTF8String, Array[(Boolean, Array[Byte])]](rulesByHost.size * 2)
    rulesByHost.foreach { case (h, rs) =>
      m.put(UTF8String.fromString(h),
        rs.map { case (a, p) => (a, p.getBytes(StandardCharsets.UTF_8)) })
    }
    m
  }

  def allowsUrl(host: UTF8String, urlCanon: UTF8String): Boolean = {
    val rules = compiled.get(host)
    if (rules == null || rules.isEmpty) return true
    val n = urlCanon.numBytes()
    // replicate UrlCanon.pathOf exactly, without materializing the path:
    // scheme end = first "://"; path = first '/' AFTER it (String
    // indexOf semantics — a '/' inside the query counts if no earlier
    // one exists) up to the first '?' from there; no "://" ⇒ path "";
    // no '/' ⇒ the virtual path "/".
    var schemeEnd = -1
    var i = 0
    while (i + 2 < n && schemeEnd < 0) {
      if (urlCanon.getByte(i) == ':' && urlCanon.getByte(i + 1) == '/' &&
        urlCanon.getByte(i + 2) == '/') schemeEnd = i + 3
      i += 1
    }
    var pathStart = 0
    var pathEnd = 0 // empty path when no scheme marker
    var virtualRoot = false
    if (schemeEnd >= 0) {
      var j = schemeEnd
      while (j < n && urlCanon.getByte(j) != '/') j += 1
      if (j >= n) virtualRoot = true // pathOf returns "/"
      else {
        pathStart = j
        var q = j
        while (q < n && urlCanon.getByte(q) != '?') q += 1
        pathEnd = q
      }
    }
    val pathLen = pathEnd - pathStart
    // RobotsMatch.allows, byte-for-byte tie-break semantics
    var bestLen = -1
    var bestAllow = true
    var r = 0
    while (r < rules.length) {
      val rule = rules(r)
      val pfx = rule._2
      val plen = pfx.length
      val matches =
        if (virtualRoot) plen == 0 || (plen == 1 && pfx(0) == '/')
        else if (plen <= pathLen) {
          var k = 0
          var eq = true
          while (eq && k < plen) {
            if (urlCanon.getByte(pathStart + k) != pfx(k)) eq = false
            k += 1
          }
          eq
        } else false
      if (matches) {
        val allow = rule._1
        // longest prefix wins; allow wins length ties [PINNED] —
        // line-for-line mirror of RobotsMatch.allows
        if (plen > bestLen || (plen == bestLen && allow && !bestAllow)) {
          bestLen = plen
          bestAllow = allow
        }
      }
      r += 1
    }
    if (bestLen < 0) true else bestAllow
  }

  /** Reference form (allocating) — kept for the equivalence spec. */
  def allowsUrlViaStrings(host: UTF8String, urlCanon: UTF8String): Boolean = {
    val rules = rulesByHost.getOrElse(host.toString, null)
    if (rules == null || rules.isEmpty) true
    else RobotsMatch.allows(rules.toSeq, UrlCanon.pathOf(urlCanon.toString))
  }
}

/** `robots_allows(host, url_canon)` — Google-style longest-prefix-match
  * allow/deny (X6), full codegen via a referenced [[RobotsIndex]]. */
case class RobotsAllows(left: Expression, right: Expression, index: RobotsIndex)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "robots_allows"

  override protected def nullSafeEval(host: Any, url: Any): Any =
    index.allowsUrl(host.asInstanceOf[UTF8String], url.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("robotsIndex", index, "graft.crawl.RobotsIndex")
    defineCodeGen(ctx, ev, (h, u) => s"$idx.allowsUrl($h, $u)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RobotsAllows =
    copy(left = newLeft, right = newRight)
}
