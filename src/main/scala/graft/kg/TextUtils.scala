package graft.kg

import java.util.Locale

/** Scalar text functions ported 1:1 from the reference's semantics.
  * Each function cites its source in /root/reference/. Pure, null-safe,
  * deterministic — usable both as Spark UDFs and from the plain-Scala
  * oracle (tests).
  */
object TextUtils extends Serializable {

  /** Python str.strip() — strips Unicode whitespace from both ends. */
  def pyStrip(s: String): String = {
    if (s == null) return ""
    var a = 0
    var b = s.length
    while (a < b && Character.isWhitespace(s.charAt(a))) a += 1
    while (b > a && Character.isWhitespace(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  /** Python str.strip(chars) — strips any char in `chars` from both ends. */
  def pyStrip(s: String, chars: String): String = {
    if (s == null) return ""
    var a = 0
    var b = s.length
    while (a < b && chars.indexOf(s.charAt(a)) >= 0) a += 1
    while (b > a && chars.indexOf(s.charAt(b - 1)) >= 0) b -= 1
    s.substring(a, b)
  }

  /** normalize_entity_name — core/api/relationships.py:112-134.
    * trim+lower; strip surrounding [..]; cut at first '(' when both
    * '(' and ')' present.
    */
  def normName(name: String): String = {
    if (name == null) return ""
    var r = pyStrip(name).toLowerCase(Locale.ROOT)
    if (r.startsWith("[") && r.endsWith("]") && r.length >= 2)
      r = pyStrip(r.substring(1, r.length - 1))
    if (r.contains("(") && r.contains(")"))
      r = pyStrip(r.substring(0, r.indexOf("(")))
    r
  }

  /** chunk_text — utils/text_utils.py:90-112. Sliding char windows,
    * start = max(end - overlap, 0), last chunk may be short. The reference
    * loops forever when overlap >= size; here the effective overlap is
    * clamped to size-1 so an executor task can never hang on bad config. */
  def chunkText(text: String, size: Int, overlap: Int = 0): Seq[String] = {
    if (text == null || text.isEmpty || size <= 0) return Seq.empty
    val ov = math.min(overlap, size - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    val length = text.length
    var done = false
    while (start < length && !done) {
      val end = math.min(start + size, length)
      out += text.substring(start, end)
      if (end == length) done = true
      else start = math.max(end - ov, 0)
    }
    out.toSeq
  }

  /** urllib.parse.quote(s, safe) — percent-encodes UTF-8 bytes of chars not
    * in [A-Za-z0-9_.~-] ∪ safe, uppercase hex. */
  def pyQuote(s: String, safe: String): String = {
    if (s == null) return ""
    val sb = new StringBuilder
    s.foreach { c =>
      val plain = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '~' || c == '-' ||
        safe.indexOf(c) >= 0
      if (plain) sb.append(c)
      else c.toString.getBytes("UTF-8").foreach(b => sb.append(f"%%${b & 0xff}%02X"))
    }
    sb.toString
  }

  /** urllib.parse.unquote — decodes %XX UTF-8 byte sequences; malformed
    * escapes pass through verbatim (Python parity). */
  def pyUnquote(s: String): String = {
    if (s == null) return ""
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) >= 0 && hex(s.charAt(i + 2)) >= 0) {
        out.write(hex(s.charAt(i + 1)) * 16 + hex(s.charAt(i + 2)))
        i += 3
      } else {
        val bs = c.toString.getBytes("UTF-8")
        out.write(bs, 0, bs.length)
        i += 1
      }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** P6 _parse_wikipedia_url — wikipedia/service.py:145-156: full URL →
    * (lang, title); ("", "") when the path carries no /wiki/ segment or the
    * URL does not parse. lang = first label of the host; title =
    * unquote(path after /wiki/) with '_'→' '. */
  def parseWikipediaUrl(url: String): (String, String) = {
    if (url == null) return ("", "")
    try {
      val u = new java.net.URI(url)
      val lang = Option(u.getHost).getOrElse("").split('.').headOption.getOrElse("")
      val path = Option(u.getRawPath).getOrElse("")
      val idx = path.indexOf("/wiki/")
      if (idx < 0) ("", "")
      else (lang, pyUnquote(path.substring(idx + 6)).replace('_', ' '))
    } catch { case _: Exception => ("", "") }
  }

  /** sanitize_wikipedia_url — utils/text_utils.py:115-132. Encodes only the
    * title part after /wiki/, space→underscore, safe set "_()%-". */
  def sanitizeWikipediaUrl(url: String): String = {
    if (url == null) return ""
    val idx = url.indexOf("/wiki/")
    if (idx < 0) return url
    val base = url.substring(0, idx)
    val title = url.substring(idx + 6).replace(" ", "_")
    s"$base/wiki/${pyQuote(title, "_()%-")}"
  }

  /** _create_dbpedia_uri_from_label — services/dbpedia/service.py:160-193.
    * space→'_', drop \n\r, first char upper, quote(safe="()_"). */
  def dbpediaUri(label: String): String = {
    if (label == null || label.isEmpty) return ""
    var f = label.replace(" ", "_").replace("\n", "").replace("\r", "")
    if (f.nonEmpty) f = f.substring(0, 1).toUpperCase(Locale.ROOT) + f.substring(1)
    s"http://dbpedia.org/resource/${pyQuote(f, "()_")}"
  }

  /** is_valid_wikipedia_url — utils/text_utils.py:59-70. */
  private val WikiUrlRe = "^https?://[a-z]{2}\\.wikipedia\\.org/wiki/[\\w\\-%]+".r
  def isValidWikipediaUrl(url: String): Boolean =
    url != null && WikiUrlRe.findPrefixOf(url).isDefined

  /** strip_trailing_ellipsis — utils/text_utils.py:72-87. */
  def stripTrailingEllipsis(text: String): String = {
    if (text == null || text.isEmpty) return text
    var t = text.replaceAll("[.]{3,}$", "")
    t = t.replaceAll("…$", "")
    t.replaceAll("\\s+$", "") // rstrip
  }

  /** clean_title — utils/language_utils.py:100-132: drop trailing " (...)"
    * qualifier, collapse whitespace. */
  def cleanTitle(title: String): String = {
    if (title == null || title.isEmpty) return title
    val c = title.replaceAll("\\s+\\([^)]*\\)$", "")
    c.split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** detect_language — utils/language_utils.py:15-66. Stopword counting over
    * de/en/fr/es (min 2 hits), umlaut fallback → de, default en. */
  private val LangMarkers: Seq[(String, Set[String])] = Seq(
    "de" -> Set("der", "die", "das", "und", "ist", "in", "von", "zu", "mit", "den", "für", "auf", "ein", "eine"),
    "en" -> Set("the", "and", "is", "in", "to", "of", "for", "with", "on", "at", "from", "by", "an", "as"),
    "fr" -> Set("le", "la", "les", "et", "est", "en", "de", "du", "dans", "pour", "avec", "sur", "un", "une"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "en", "de", "para", "con", "por", "un", "una", "su"))

  def detectLanguage(text: String): String = {
    if (text == null || text.length < 3) return null
    // Python str.split(): any-whitespace runs, no empty tokens
    val words = text.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val counts = scala.collection.mutable.LinkedHashMap(LangMarkers.map { case (l, _) => l -> 0 }: _*)
    words.foreach { w =>
      val clean = pyStrip(w, ".,;:!?()[]{}\"'")
      LangMarkers.foreach { case (lang, markers) =>
        if (markers.contains(clean)) counts(lang) += 1
      }
    }
    // best match, first-wins on ties (Python dict iteration order)
    var bestLang: String = null
    var bestCount = 0
    counts.foreach { case (lang, c) => if (c > bestCount) { bestCount = c; bestLang = lang } }
    if (bestCount >= 2) return bestLang
    if (text.toLowerCase(Locale.ROOT).exists("äöüß".contains(_))) return "de"
    "en"
  }

  /** difflib.SequenceMatcher(None, a, b).ratio() — Ratcliff/Obershelp with
    * difflib's exact block-selection rules (deduplication.py:431-480 depends
    * on this at threshold 0.85). autojunk never triggers for b.length < 200,
    * which holds for predicates; implemented without junk handling and
    * guarded by that assumption in tests.
    */
  def seqRatio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val matches = matchingBlockTotal(a, b)
    val t = a.length + b.length
    if (t == 0) 1.0 else 2.0 * matches / t
  }

  private def matchingBlockTotal(a: String, b: String): Int = {
    // b2j: char -> positions in b (difflib __chain_b without junk)
    val b2j = scala.collection.mutable.HashMap.empty[Char, List[Int]]
    for (j <- b.length - 1 to 0 by -1) b2j(b.charAt(j)) = j :: b2j.getOrElse(b.charAt(j), Nil)

    def findLongest(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = Map.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        var newj2len = Map.empty[Int, Int]
        b2j.getOrElse(a.charAt(i), Nil).foreach { j =>
          if (j >= blo && j < bhi) {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newj2len += (j -> k)
            if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
          }
        }
        j2len = newj2len
        i += 1
      }
      (besti, bestj, bestsize)
    }

    // recursive sum of matching block sizes (difflib get_matching_blocks)
    def go(alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
      val (i, j, k) = findLongest(alo, ahi, blo, bhi)
      if (k == 0) 0
      else k + go(alo, i, blo, j) + go(i + k, ahi, j + k, bhi)
    }
    go(0, a.length, 0, b.length)
  }

  /** Deterministic entity id: sha1(url || "|" || canonical) — replaces the
    * reference's uuid4 (utils/id_utils.py:3-17) so re-runs are byte-identical
    * (SURVEY §1.2). Called once per emitted entity in the fused extract
    * pass, so the digest object is thread-local and the hex encoding is a
    * table lookup — the original per-call getInstance + per-byte format
    * string was ~9 µs/call and the single largest CPU item of the whole
    * extract stage in a single-threaded per-component profile (round 6;
    * findings in OPTIMIZATION_r06.md). */
  private val HexChars = "0123456789abcdef".toCharArray
  private val Sha1Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("SHA-1")
    }
  def entityId(url: String, canonical: String): String = {
    val md = Sha1Local.get()
    md.reset()
    val d = md.digest(s"$url|$canonical".getBytes("UTF-8"))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      val b = d(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }
}
