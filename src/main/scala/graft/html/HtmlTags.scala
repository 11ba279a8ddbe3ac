package graft.html

/** Tag-name interning + category tables for the HTML kernel.
  *
  * The kernel is the Spark-native analog of the reference's layout analyzer
  * (K6/K7, /root/reference/ocr_service/modules/layout.py:28-93): element
  * categories drive block segmentation the way contour geometry drives
  * region detection there.
  */
object HtmlTags {

  // Interned tag ids. 0 is reserved for "unknown tag".
  val Unknown = 0

  private val names = Array(
    "?", // 0 unknown
    "html", "head", "body", "title", "meta", "link", "script", "style",
    "noscript", "template", "p", "div", "span", "a", "h1", "h2", "h3", "h4",
    "h5", "h6", "ul", "ol", "li", "dl", "dt", "dd", "table", "thead",
    "tbody", "tr", "td", "th", "blockquote", "pre", "article", "section",
    "main", "header", "footer", "nav", "aside", "form", "figure",
    "figcaption", "br", "hr", "img", "input", "button", "label", "select",
    "option", "textarea", "strong", "em", "b", "i", "u", "small", "code",
    "time", "abbr", "cite", "sup", "sub", "iframe", "video", "audio",
    "canvas", "svg", "picture", "source", "area", "base", "col", "embed",
    "track", "wbr", "param", "caption", "address", "details", "summary",
    "fieldset", "legend", "mark", "q", "s", "dfn", "kbd", "samp", "var",
    "object")

  private val idByName: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](names.length * 2)
    var i = 0
    while (i < names.length) { m.put(names(i), i); i += 1 }
    m
  }

  def id(name: String): Int = {
    val v = idByName.get(name)
    if (v == null) Unknown else v.intValue()
  }

  def name(id: Int): String =
    if (id >= 0 && id < names.length) names(id) else "?"

  val count: Int = names.length

  private def set(tags: String*): Array[Boolean] = {
    val a = new Array[Boolean](count)
    tags.foreach(t => a(id(t)) = true)
    a
  }

  /** Elements with no content model (never pushed on the open stack). */
  val isVoid: Array[Boolean] = set(
    "meta", "link", "br", "hr", "img", "input", "area", "base", "col",
    "embed", "source", "track", "wbr", "param")

  /** Raw-text elements: content captured verbatim until the matching
    * close tag, never emitted as document text. */
  val isRawText: Array[Boolean] = set(
    "script", "style", "noscript", "template", "title", "textarea")

  /** Block-level boundary elements — opening/closing one flushes the
    * current text block (analog of region boundaries, layout.py:53-66). */
  val isBlock: Array[Boolean] = set(
    "html", "head", "body", "p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "ul", "ol", "li", "dl", "dt", "dd", "table", "thead", "tbody", "tr",
    "td", "th", "blockquote", "pre", "article", "section", "main", "header",
    "footer", "nav", "aside", "form", "figure", "figcaption", "caption",
    "address", "details", "summary", "fieldset", "legend", "hr")

  /** Boilerplate-scope ancestors: text under these is presumed chrome
    * (the analog of overlay/noise removal, SURVEY K4). */
  val isBoilerScope: Array[Boolean] = set(
    "nav", "header", "footer", "aside", "form")

  /** Headings (candidate short-good blocks). */
  val isHeading: Array[Boolean] = set("h1", "h2", "h3", "h4", "h5", "h6")
}
