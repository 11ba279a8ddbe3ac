package graft.text

/** Staged and regex-only forms of text kernels: the references the
  * parity specs compare the fused and word-probe fast paths against. */
object TextReferences {

  /** [[Sanitizer.scrubFilterCollapse]] as three passes: drop unpaired
    * surrogates, filter disallowed ASCII, collapse whitespace. */
  def scrubFilterCollapse(s: String): String = {
    val scrubbed = Sanitizer.dropUnpairedSurrogates(s)
    var drop = 0
    var i = 0
    while (i < scrubbed.length) {
      val c = scrubbed.charAt(i)
      if (c <= 127 && !Sanitizer.allowedAscii(c)) drop += 1
      i += 1
    }
    val filtered =
      if (drop == 0) scrubbed
      else {
        val kept = new java.lang.StringBuilder(scrubbed.length - drop)
        i = 0
        while (i < scrubbed.length) {
          val c = scrubbed.charAt(i)
          if (c > 127 || Sanitizer.allowedAscii(c)) kept.append(c)
          i += 1
        }
        kept.toString
      }
    collapseWsStrip(filtered)
  }

  /** [[LangHints.detectLower]] with every hint matched by its regex. */
  def detectLower(t: String, lower: String): (String, String) =
    LangHints.Hints.collectFirst {
      case (pat, _, lang, country) if pat.matcher(t).find() =>
        (lang, country)
    }.getOrElse(("en", ""))
}
