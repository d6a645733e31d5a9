package graft.labelers

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hand-rolled single-pass entity classifier — the production twin of
  * [[RegexLabeler.labelOfRegex]]'s 24-rule regex chain.
  *
  * java.util.regex costs ~4–7 µs/cell across the priority chain even with
  * cheap guards (Matcher allocation + backtracking per rule); at 100 TB
  * the labeling scan IS the job, so the chain is re-expressed here as
  * deterministic char-walk matchers (~100 ns/cell, no allocation beyond
  * one String). Each matcher is an exact decision-procedure equivalent
  * of its rule's pattern(s) — including java.util.regex's `$`-matches-
  * before-a-final-line-terminator quirk — and `FastMatchSpec` property-
  * checks equivalence against the real regex chain over adversarial
  * inputs. The DuckDB oracle keeps the regex form (RE2 evaluates the
  * same patterns natively), so CORRECTNESS compares the two engines'
  * INDEPENDENT implementations of the same semantics.
  */
object FastMatch {

  // ------------------------------------------------------------ char tests
  @inline private def isDigit(c: Char) = c >= '0' && c <= '9'
  @inline private def isLower(c: Char) = c >= 'a' && c <= 'z'
  @inline private def isUpper(c: Char) = c >= 'A' && c <= 'Z'
  @inline private def isLetter(c: Char) = isLower(c) || isUpper(c)
  @inline private def isHex(c: Char) =
    isDigit(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def isAlnum(c: Char) = isDigit(c) || isLetter(c)
  @inline private def lower(c: Char): Char =
    if (isUpper(c)) (c + 32).toChar else c

  /** Maximal digit run length starting at i (bounded by end). */
  @inline private def digitRun(s: String, i: Int, end: Int): Int = {
    var j = i
    while (j < end && isDigit(s.charAt(j))) j += 1
    j - i
  }

  @inline private def allDigits(s: String, i: Int, end: Int): Boolean = {
    var j = i
    while (j < end && isDigit(s.charAt(j))) j += 1
    j == end && end > i
  }

  @inline private def allHex(s: String, i: Int, end: Int): Boolean = {
    var j = i
    while (j < end && isHex(s.charAt(j))) j += 1
    j == end && end > i
  }

  // --------------------------------------------------- component matchers
  /** yyyy-MM-dd at position i (exactly 10 chars). */
  private def isIsoDate(s: String, i: Int, end: Int): Boolean =
    i + 10 <= end &&
      allDigits(s, i, i + 4) && s.charAt(i + 4) == '-' &&
      allDigits(s, i + 5, i + 7) && s.charAt(i + 7) == '-' &&
      allDigits(s, i + 8, i + 10)

  /** d{1,2}/d{1,2}/d{4} from i; returns end index or -1. */
  private def usDateEnd(s: String, i: Int, end: Int): Int = {
    val r1 = digitRun(s, i, end)
    if (r1 < 1 || r1 > 2) return -1
    var j = i + r1
    if (j >= end || s.charAt(j) != '/') return -1
    j += 1
    val r2 = digitRun(s, j, end)
    if (r2 < 1 || r2 > 2) return -1
    j += r2
    if (j >= end || s.charAt(j) != '/') return -1
    j += 1
    if (digitRun(s, j, end) < 4 || j + 4 > end) return -1
    j + 4
  }

  /** d{1,2}[hH]dd (the 24h 'h'-separated written form). */
  private def mTimeH(s: String, end: Int): Boolean = {
    val r = digitRun(s, 0, end)
    if (r < 1 || r > 2 || r >= end) return false
    val c = s.charAt(r)
    (c == 'h' || c == 'H') && end - r - 1 == 2 && allDigits(s, r + 1, end)
  }

  /** d{1,2}:dd(:dd)?( ?[ap]m)? anchored from i to exactly `end`;
    * `allowFrac` additionally permits a .d{1,9} fraction directly after
    * the seconds group (the ISO/log DATETIME convention — regex
    * `timeFrac`). */
  private def timeToEndF(s: String, i: Int, end: Int,
      allowFrac: Boolean): Boolean = {
    val r = digitRun(s, i, end)
    if (r < 1 || r > 2) return false
    var j = i + r
    if (j >= end || s.charAt(j) != ':') return false
    j += 1
    if (j + 2 > end || !isDigit(s.charAt(j)) || !isDigit(s.charAt(j + 1)))
      return false
    j += 2
    if (j < end && s.charAt(j) == ':') {
      // seconds group: present ':' must carry exactly two digits (the
      // optional group failing leaves an unmatchable ':')
      if (j + 3 > end || !isDigit(s.charAt(j + 1)) || !isDigit(s.charAt(j + 2)))
        return false
      j += 3
      if (allowFrac && j < end && s.charAt(j) == '.') {
        val f = digitRun(s, j + 1, end)
        if (f < 1 || f > 9) return false
        j += 1 + f
      }
    }
    if (j == end) return true
    var k = j
    if (s.charAt(k) == ' ') k += 1
    k + 2 == end && {
      val a = lower(s.charAt(k)); val m = lower(s.charAt(k + 1))
      (a == 'a' || a == 'p') && m == 'm'
    }
  }

  private def timeToEnd(s: String, i: Int, end: Int): Boolean =
    timeToEndF(s, i, end, allowFrac = false)

  /** military clock '2359 hrs' / '0700hrs': ([01]d|2[0-3])[0-5]d ?hrs? */
  private def mTimeMil(s: String, end: Int): Boolean = {
    if (end < 6 || end > 8) return false
    val h0 = s.charAt(0); val h1 = s.charAt(1)
    val hourOk = ((h0 == '0' || h0 == '1') && isDigit(h1)) ||
      (h0 == '2' && h1 >= '0' && h1 <= '3')
    if (!hourOk || !(s.charAt(2) >= '0' && s.charAt(2) <= '5') ||
      !isDigit(s.charAt(3))) return false
    var k = 4
    if (k < end && s.charAt(k) == ' ') k += 1
    if (k >= end || lower(s.charAt(k)) != 'h' || k + 1 >= end ||
      lower(s.charAt(k + 1)) != 'r') return false
    k += 2
    k == end || (k + 1 == end && lower(s.charAt(k)) == 's')
  }

  /** d{1,2}.dd ?[ap]m — dot-separator minutes with a required meridiem
    * ('9.05am'); the meridiem is what distinguishes it from a FLOAT. */
  private def mTimeDot(s: String, end: Int): Boolean = {
    val r = digitRun(s, 0, end)
    if (r < 1 || r > 2 || r >= end || s.charAt(r) != '.') return false
    var j = r + 1
    if (j + 2 > end || !isDigit(s.charAt(j)) || !isDigit(s.charAt(j + 1)))
      return false
    j += 2
    if (j < end && s.charAt(j) == ' ') j += 1
    j + 2 == end && {
      val a = lower(s.charAt(j)); val m = lower(s.charAt(j + 1))
      (a == 'a' || a == 'p') && m == 'm'
    }
  }

  /** Zulu-suffixed 24h time d{1,2}:dd(:dd)?Z — uppercase Z, NO
    * meridiem (the regex has no [ap]m branch, so this walk must not
    * delegate to [[timeToEnd]], which would admit '12:30 amZ' — r19). */
  private def mTimeZulu(s: String, end: Int): Boolean = {
    if (end < 5 || s.charAt(end - 1) != 'Z') return false
    val t = end - 1
    val r = digitRun(s, 0, t)
    if (r < 1 || r > 2 || r >= t || s.charAt(r) != ':') return false
    var j = r + 1
    if (j + 2 > t || !isDigit(s.charAt(j)) || !isDigit(s.charAt(j + 1)))
      return false
    j += 2
    if (j == t) return true
    s.charAt(j) == ':' && j + 3 == t && allDigits(s, j + 1, t)
  }

  private val Months = Set("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec")

  /** 3-letter month (ci) at i. */
  @inline private def isMonth(s: String, i: Int, end: Int): Boolean =
    i + 3 <= end && Months.contains(
      new String(Array(lower(s.charAt(i)), lower(s.charAt(i + 1)),
        lower(s.charAt(i + 2)))))

  private val Weekdays3 = Set("mon", "tue", "wed", "thu", "fri", "sat",
    "sun")

  /** 3-letter weekday (ci) at i — disjoint from [[Months]] prefixes. */
  @inline private def isWeekday(s: String, i: Int, end: Int): Boolean =
    i + 3 <= end && Weekdays3.contains(
      new String(Array(lower(s.charAt(i)), lower(s.charAt(i + 1)),
        lower(s.charAt(i + 2)))))

  /** s[k..end) equals `tok` (ci, tok already lowercase). */
  @inline private def regionCi(s: String, k: Int, end: Int,
      tok: String): Boolean = {
    if (end - k != tok.length) return false
    var i = 0
    while (i < tok.length) {
      if (lower(s.charAt(k + i)) != tok.charAt(i)) return false
      i += 1
    }
    true
  }

  // ------------------------------------------------------------ rule set
  private def mDatetime(s: String, end: Int): Boolean = {
    if (isIsoDate(s, 0, end) && end > 10 &&
        (s.charAt(10) == ' ' || s.charAt(10) == 'T') &&
        (timeToEndF(s, 11, end, allowFrac = true) ||
          // ISO form takes an optional trailing Z (regex `...${timeFrac}Z?$`)
          (end > 12 && s.charAt(end - 1) == 'Z' &&
            timeToEndF(s, 11, end - 1, allowFrac = true)))) return true
    val d = usDateEnd(s, 0, end)
    if (d >= 0 && d < end && s.charAt(d) == ' ' && timeToEnd(s, d + 1, end))
      return true
    // named-month form: MONTH[a-z]* d{1,2},? yyyy,? time
    if (isMonth(s, 0, end)) {
      var j = 3
      while (j < end && isLetter(s.charAt(j))) j += 1
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      val r2 = digitRun(s, j, end)
      if (r2 < 1 || r2 > 2) return false
      j += r2
      if (j < end && s.charAt(j) == ',') j += 1
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      if (j + 4 > end || !allDigits(s, j, j + 4)) return false
      j += 4
      if (j < end && s.charAt(j) == ',') j += 1
      if (j >= end || s.charAt(j) != ' ') return false
      return timeToEnd(s, j + 1, end)
    }
    // RFC 2822 (email Date: header): WKD, d{1,2} MONTH yyyy time with an
    // optional ' [+-]dddd' or ' (gmt|ut|utc|z)' zone (r17 tier five).
    // Reached only when s doesn't start with a month (disjoint 3-letter
    // prefixes), so the named-month branch's returns can't shadow it
    if (end >= 5 && isWeekday(s, 0, end) && s.charAt(3) == ',' &&
        s.charAt(4) == ' ') {
      var j = 5
      val r = digitRun(s, j, end)
      if (r < 1 || r > 2) return false
      j += r
      if (j >= end || s.charAt(j) != ' ' || !isMonth(s, j + 1, end))
        return false
      j += 4
      while (j < end && isLetter(s.charAt(j))) j += 1
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      if (j + 4 > end || !allDigits(s, j, j + 4)) return false
      j += 4
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      if (timeToEnd(s, j, end)) return true
      // optional zone — '+'/'-'/zone letters are outside the time
      // alphabet, so stripping a recognized suffix is exact
      if (end - 6 > j && s.charAt(end - 6) == ' ' &&
          (s.charAt(end - 5) == '+' || s.charAt(end - 5) == '-') &&
          allDigits(s, end - 4, end) && timeToEnd(s, j, end - 6))
        return true
      if (end - 4 > j && s.charAt(end - 4) == ' ' &&
          (regionCi(s, end - 3, end, "gmt") ||
            regionCi(s, end - 3, end, "utc")) && timeToEnd(s, j, end - 4))
        return true
      if (end - 3 > j && s.charAt(end - 3) == ' ' &&
          regionCi(s, end - 2, end, "ut") && timeToEnd(s, j, end - 3))
        return true
      if (end - 2 > j && s.charAt(end - 2) == ' ' &&
          regionCi(s, end - 1, end, "z") && timeToEnd(s, j, end - 2))
        return true
      return false
    }
    // asctime / unix date(1) ('Sat May 13 16:40:00 UTC 2020'): weekday
    // SPACE (no comma — disjoint from the RFC 2822 branch above) month
    // 1+ spaces (ctime pads the day) d{1,2} hh:mm:ss, optional 2-5
    // letter zone or [+-]dddd offset, trailing 4-digit year (r18)
    if (end >= 20 && isWeekday(s, 0, end) && s.charAt(3) == ' ' &&
        isMonth(s, 4, end)) {
      var j = 7
      while (j < end && isLetter(s.charAt(j))) j += 1 // month tail
      if (j >= end || s.charAt(j) != ' ') return false
      while (j < end && s.charAt(j) == ' ') j += 1 // ' +' day padding
      val d = digitRun(s, j, end)
      if (d < 1 || d > 2) return false
      j += d
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      val h = digitRun(s, j, end) // hh:mm:ss — seconds REQUIRED
      if (h < 1 || h > 2) return false
      j += h
      if (j + 6 > end || s.charAt(j) != ':' || !allDigits(s, j + 1, j + 3) ||
          s.charAt(j + 3) != ':' || !allDigits(s, j + 4, j + 6)) return false
      j += 6
      // no-zone path: exactly ' yyyy' remains
      if (end - j == 5 && s.charAt(j) == ' ' && allDigits(s, j + 1, end))
        return true
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      var z = j
      if (z < end && (s.charAt(z) == '+' || s.charAt(z) == '-')) {
        if (z + 5 > end || !allDigits(s, z + 1, z + 5)) return false
        z += 5
      } else {
        while (z < end && isLetter(s.charAt(z))) z += 1
        if (z - j < 2 || z - j > 5) return false
      }
      return end - z == 5 && s.charAt(z) == ' ' && allDigits(s, z + 1, end)
    }
    false
  }

  private def mDate(s: String, end: Int): Boolean = {
    if (end == 10 && isIsoDate(s, 0, end)) return true
    if (usDateEnd(s, 0, end) == end) return true
    // ISO 8601 week date yyyy-Www(-d): uppercase W (case-sensitive,
    // like the regex), week 01-53, optional weekday digit 1-7 (r18)
    if ((end == 8 || end == 10) && allDigits(s, 0, 4) &&
        s.charAt(4) == '-' && s.charAt(5) == 'W' &&
        isDigit(s.charAt(6)) && isDigit(s.charAt(7))) {
      val ww = (s.charAt(6) - '0') * 10 + (s.charAt(7) - '0')
      if (ww >= 1 && ww <= 53 && (end == 8 ||
          (s.charAt(8) == '-' && s.charAt(9) >= '1' && s.charAt(9) <= '7')))
        return true
    }
    // ISO 8601 ordinal date yyyy-ddd: day-of-year 001-366, zero-padded
    // to exactly 3 digits (r19 tier seven)
    if (end == 8 && allDigits(s, 0, 4) && s.charAt(4) == '-' &&
        allDigits(s, 5, 8)) {
      val doy = (s.charAt(5) - '0') * 100 + (s.charAt(6) - '0') * 10 +
        (s.charAt(7) - '0')
      if (doy >= 1 && doy <= 366) return true
    }
    // ISO 8601 basic (compact) yyyymmdd: century 19/20, month 01-12,
    // day 01-31 — the bounds are what keep 8-digit integers INTEGER
    if (end == 8 && allDigits(s, 0, 8) &&
        ((s.charAt(0) == '1' && s.charAt(1) == '9') ||
          (s.charAt(0) == '2' && s.charAt(1) == '0'))) {
      val m1 = s.charAt(4); val m2 = s.charAt(5)
      val d1 = s.charAt(6); val d2 = s.charAt(7)
      val mOk = (m1 == '0' && m2 >= '1') || (m1 == '1' && m2 <= '2')
      val dOk = (d1 == '0' && d2 >= '1') || d1 == '1' || d1 == '2' ||
        (d1 == '3' && d2 <= '1')
      if (mOk && dOk) return true
    }
    // US slash form with 2-digit year (%m/%d/%y)
    val u1 = digitRun(s, 0, end)
    if (u1 >= 1 && u1 <= 2 && u1 < end && s.charAt(u1) == '/') {
      val u2 = digitRun(s, u1 + 1, end)
      val k = u1 + 1 + u2
      if (u2 >= 1 && u2 <= 2 && k < end && s.charAt(k) == '/' &&
          end - k - 1 == 2 && allDigits(s, k + 1, end)) return true
    }
    // big-endian slash form yyyy/m{1,2}/d{1,2}
    if (end >= 8 && allDigits(s, 0, 4) && s.charAt(4) == '/') {
      val m = digitRun(s, 5, end)
      val k = 5 + m
      if (m >= 1 && m <= 2 && k < end && s.charAt(k) == '/') {
        val dd = digitRun(s, k + 1, end)
        if (dd >= 1 && dd <= 2 && k + 1 + dd == end) return true
      }
    }
    // European dotted dd.mm.yyyy
    val rd = digitRun(s, 0, end)
    if (rd >= 1 && rd <= 2 && rd < end && s.charAt(rd) == '.') {
      val r2 = digitRun(s, rd + 1, end)
      val j = rd + 1 + r2
      if (r2 >= 1 && r2 <= 2 && j < end && s.charAt(j) == '.' &&
          end - j - 1 == 4 && allDigits(s, j + 1, end)) return true
    }
    // log-file form d{1,2}-MONTH[a-z]*-yyyy
    if (rd >= 1 && rd <= 2 && rd < end && s.charAt(rd) == '-' &&
        isMonth(s, rd + 1, end)) {
      var j = rd + 4
      while (j < end && isLetter(s.charAt(j))) j += 1
      if (j < end && s.charAt(j) == '-' && end - j - 1 == 4 &&
          allDigits(s, j + 1, end)) return true
    }
    // d{1,2}(st|nd|rd|th)? MONTH[a-z]* yyyy — the day may carry an
    // ordinal suffix ('28th July 2023')
    val r = digitRun(s, 0, end)
    if (r >= 1 && r <= 2) {
      var p = r
      if (p + 2 <= end) {
        val a = lower(s.charAt(p)); val b = lower(s.charAt(p + 1))
        if ((a == 's' && b == 't') || (a == 'n' && b == 'd') ||
            (a == 'r' && b == 'd') || (a == 't' && b == 'h')) p += 2
      }
      if (p < end && s.charAt(p) == ' ' && isMonth(s, p + 1, end)) {
        var j = p + 4
        while (j < end && isLetter(s.charAt(j))) j += 1
        if (j < end && s.charAt(j) == ' ' && end - j - 1 == 4 &&
            allDigits(s, j + 1, end)) return true
      }
    }
    // MONTH[a-z]* d{1,2},? yyyy
    if (isMonth(s, 0, end)) {
      var j = 3
      while (j < end && isLetter(s.charAt(j))) j += 1
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      val r2 = digitRun(s, j, end)
      if (r2 < 1 || r2 > 2) return false
      j += r2
      if (j < end && s.charAt(j) == ',') j += 1
      if (j >= end || s.charAt(j) != ' ') return false
      j += 1
      return end - j == 4 && allDigits(s, j, end)
    }
    false
  }

  /** local@domain.tld anchored over s[i0, end0). */
  private def emailCoreAt(s: String, i0: Int, end: Int): Boolean = {
    @inline def localChar(c: Char) = isAlnum(c) || c == '.' || c == '_' ||
      c == '%' || c == '+' || c == '-'
    @inline def domainChar(c: Char) = isAlnum(c) || c == '.' || c == '-'
    var at = -1
    var i = i0
    while (i < end && at < 0) { if (s.charAt(i) == '@') at = i; i += 1 }
    if (at < i0 + 1) return false
    i = i0
    while (i < at) { if (!localChar(s.charAt(i))) return false; i += 1 }
    var dot = -1
    i = end - 1
    while (i > at && dot < 0) { if (s.charAt(i) == '.') dot = i; i -= 1 }
    if (dot <= at + 1) return false // >=1 domain char before the dot
    i = at + 1
    while (i < dot) { if (!domainChar(s.charAt(i))) return false; i += 1 }
    if (end - dot - 1 < 2) return false
    i = dot + 1
    while (i < end) { if (!isLetter(s.charAt(i))) return false; i += 1 }
    true
  }

  /** `(word)` (ci) anchored at i — the '(at)'/'(dot)' obfuscation
    * tokens. */
  private def tokAt(s: String, i: Int, end: Int, w: String): Boolean = {
    if (i + w.length + 2 > end) return false
    if (s.charAt(i) != '(' || s.charAt(i + w.length + 1) != ')') return false
    var j = 0
    while (j < w.length) {
      if (lower(s.charAt(i + 1 + j)) != w.charAt(j)) return false
      j += 1
    }
    true
  }

  /** Scraper-evasion obfuscated address (r18 tier six):
    * local(at)label((dot)label)*(dot)alpha{2,} — local/label classes
    * exclude parens, so every '(' must open an exact (at)/(dot) token;
    * final label pure alpha, ≥2. Mirrors the chain regex exactly. */
  private def mEmailObf(s: String, end: Int): Boolean = {
    @inline def localChar(c: Char) = isAlnum(c) || c == '.' || c == '_' ||
      c == '%' || c == '+' || c == '-'
    @inline def labelChar(c: Char) = isAlnum(c) || c == '-'
    var i = 0
    while (i < end && localChar(s.charAt(i))) i += 1
    if (i < 1 || !tokAt(s, i, end, "at")) return false
    var j = i + 4
    var lastStart = j
    var sawDot = false
    while (j < end) {
      val c = s.charAt(j)
      if (labelChar(c)) j += 1
      else if (tokAt(s, j, end, "dot")) {
        if (j == lastStart) return false // empty label
        sawDot = true; j += 5; lastStart = j
      } else return false
    }
    if (!sawDot || end - lastStart < 2) return false
    var k = lastStart
    while (k < end) { if (!isLetter(s.charAt(k))) return false; k += 1 }
    true
  }

  private def mEmail(s: String, end: Int): Boolean = {
    if (emailCoreAt(s, 0, end)) return true
    if (mEmailObf(s, end)) return true
    // RFC 6068 mailto: URI — ':' is not a local-part char, so the
    // scheme'd form is disjoint from the bare core above
    if (startsWithCi(s, "mailto:", end)) return emailCoreAt(s, 7, end)
    // RFC 5322 name-addr: [A-Za-z][A-Za-z .'-]{0,40}<core> — the name
    // class excludes '<', so the first '<' is the regex's '<'
    if (end < 8 || s.charAt(end - 1) != '>') return false
    if (!isLetter(s.charAt(0))) return false
    var lt = -1
    var i = 1
    while (i < end && lt < 0) { if (s.charAt(i) == '<') lt = i; i += 1 }
    if (lt < 1 || lt > 41) return false
    i = 1
    while (i < lt) {
      val c = s.charAt(i)
      if (!(isLetter(c) || c == ' ' || c == '.' || c == '\'' || c == '-'))
        return false
      i += 1
    }
    emailCoreAt(s, lt + 1, end - 1)
  }

  @inline private def startsWithCi(s: String, p: String, end: Int): Boolean = {
    if (p.length > end) return false
    var i = 0
    while (i < p.length) {
      if (lower(s.charAt(i)) != p.charAt(i)) return false
      i += 1
    }
    true
  }

  private def mUrl(s: String, end: Int): Boolean = {
    @inline def hostChar(c: Char) = isAlnum(c) || c == '.' || c == '-'
    @inline def noSpace(i0: Int): Boolean = {
      var i = i0
      while (i < end) { if (s.charAt(i) == ' ') return false; i += 1 }
      true
    }
    // (https?|ftp)://host(:port)?(/path)?
    val j0 =
      if (startsWithCi(s, "https://", end)) 8
      else if (startsWithCi(s, "http://", end)) 7
      else if (startsWithCi(s, "ftp://", end)) 6
      else -1
    if (j0 > 0) {
      var k = j0
      while (k < end && hostChar(s.charAt(k))) k += 1
      if (k > j0) {
        var ok = true
        if (k < end && s.charAt(k) == ':') {
          k += 1
          val d = digitRun(s, k, end)
          if (d < 1) ok = false else k += d
        }
        if (ok) {
          if (k == end) return true
          if (s.charAt(k) == '/' && noSpace(k + 1)) return true
        }
      }
    }
    // www.HOST(/path)?  with HOST = [A-Za-z0-9.-]+ '.' [A-Za-z]{2,}
    if (startsWithCi(s, "www.", end)) {
      var sl = 4
      while (sl < end && s.charAt(sl) != '/') sl += 1
      var dot = -1
      var i = sl - 1
      while (i >= 4 && dot < 0) { if (s.charAt(i) == '.') dot = i; i -= 1 }
      var ok = dot > 4 // >=1 host char between "www." and the dot
      i = 4
      while (ok && i < dot) { if (!hostChar(s.charAt(i))) ok = false; i += 1 }
      if (ok && sl - dot - 1 < 2) ok = false
      i = dot + 1
      while (ok && i < sl) { if (!isLetter(s.charAt(i))) ok = false; i += 1 }
      if (ok && (sl == end || noSpace(sl + 1))) return true
    }
    // schemeless HOST '.' [A-Za-z]{2,6} (:port)? (/path)? — the
    // reference URL pattern's scheme is optional; also entered at
    // offset 2 for the protocol-relative '//host' form
    def schemelessFrom(i0: Int): Boolean = {
      if (i0 >= end || !isAlnum(s.charAt(i0))) return false
      var he = i0
      while (he < end && hostChar(s.charAt(he))) he += 1
      var dot2 = -1
      var j = he - 1
      while (j > i0 && dot2 < 0) { if (s.charAt(j) == '.') dot2 = j; j -= 1 }
      if (dot2 <= i0) return false
      val tldLen = he - dot2 - 1
      if (tldLen < 2 || tldLen > 6) return false
      j = dot2 + 1
      while (j < he) { if (!isLetter(s.charAt(j))) return false; j += 1 }
      var k = he
      if (k < end && s.charAt(k) == ':') {
        k += 1
        val d = digitRun(s, k, end)
        if (d < 1) return false
        k += d
      }
      if (k == end) return true
      s.charAt(k) == '/' && noSpace(k + 1)
    }
    // localhost(:port)?(/path)? — falls through on a miss so
    // 'localhost.dev' still reaches the schemeless host form
    if (startsWithCi(s, "localhost", end)) {
      var k = 9
      var ok = true
      if (k < end && s.charAt(k) == ':') {
        k += 1
        val d = digitRun(s, k, end)
        if (d < 1) ok = false else k += d
      }
      if (ok && (k == end || (s.charAt(k) == '/' && noSpace(k + 1))))
        return true
    }
    // generic RFC 3986 scheme'd locator [a-z][a-z0-9+.-]*://host
    // (:port)?(/path)? — s3/gs/hdfs/… (r19 tier seven). The http/ftp
    // arm above is a (faster) special case; this arm catches the rest.
    if (end >= 4 && isLetter(s.charAt(0))) {
      @inline def schemeChar(c: Char) = isAlnum(c) || c == '+' ||
        c == '.' || c == '-'
      var sc = 1
      while (sc < end && schemeChar(s.charAt(sc))) sc += 1
      if (sc + 2 < end && s.charAt(sc) == ':' && s.charAt(sc + 1) == '/' &&
          s.charAt(sc + 2) == '/') {
        var k = sc + 3
        val h0 = k
        while (k < end && hostChar(s.charAt(k))) k += 1
        if (k > h0) {
          var ok = true
          if (k < end && s.charAt(k) == ':') {
            k += 1
            val d = digitRun(s, k, end)
            if (d < 1) ok = false else k += d
          }
          if (ok && (k == end || (s.charAt(k) == '/' && noSpace(k + 1))))
            return true
        }
      }
    }
    // protocol-relative //host.tld(:port)?(/path)?
    if (end >= 2 && s.charAt(0) == '/' && s.charAt(1) == '/')
      return schemelessFrom(2)
    schemelessFrom(0)
  }

  private def mUuid(s: String, end: Int): Boolean = {
    @inline def core(o: Int): Boolean =
      s.charAt(o + 8) == '-' && s.charAt(o + 13) == '-' &&
        s.charAt(o + 18) == '-' && s.charAt(o + 23) == '-' &&
        allHex(s, o, o + 8) && allHex(s, o + 9, o + 13) &&
        allHex(s, o + 14, o + 18) && allHex(s, o + 19, o + 23) &&
        allHex(s, o + 24, o + 36)
    (end == 36 && core(0)) ||
      // Microsoft registry form: braces around the same UUID
      (end == 38 && s.charAt(0) == '{' && s.charAt(37) == '}' && core(1)) ||
      // RFC 4122 URN form urn:uuid:<uuid> (ci) — a chain rule so even
      // the all-zero nil UUID resolves deterministically (r18)
      (end == 45 && startsWithCi(s, "urn:uuid:", end) && core(9)) ||
      // Windows registry 'GUID={<uuid>}' form (ci scheme — r18)
      (end == 43 && startsWithCi(s, "guid={", end) &&
        s.charAt(42) == '}' && core(6)) ||
      // bare 'uuid:'-prefixed form (ci — r19 tier seven)
      (end == 41 && startsWithCi(s, "uuid:", end) && core(5))
  }

  private def mMac(s: String, end: Int): Boolean = {
    // Cisco dotted-triple form hhhh.hhhh.hhhh
    if (end == 14) {
      if (s.charAt(4) != '.' || s.charAt(9) != '.') return false
      var i = 0
      while (i < 14) {
        if (i != 4 && i != 9 && !isHex(s.charAt(i))) return false
        i += 1
      }
      return true
    }
    if (end != 17) return false
    val sep = s.charAt(2)
    if (sep != ':' && sep != '-' && sep != ' ') return false
    var g = 0
    while (g < 6) {
      val i = g * 3
      if (!isHex(s.charAt(i)) || !isHex(s.charAt(i + 1))) return false
      if (g < 5 && s.charAt(i + 2) != sep) return false
      g += 1
    }
    true
  }

  private def mIpv4(s: String, end: Int): Boolean = mIpv4From(s, 0, end)

  private def mIpv4From(s: String, i0: Int, end: Int): Boolean = {
    var i = i0
    var g = 0
    while (g < 4) {
      val r = digitRun(s, i, end)
      if (r < 1 || r > 3) return false
      if (r == 2 && s.charAt(i) == '0') return false
      if (r == 3) {
        val v = (s.charAt(i) - '0') * 100 + (s.charAt(i + 1) - '0') * 10 +
          (s.charAt(i + 2) - '0')
        if (v > 255 || s.charAt(i) == '0') return false
      }
      i += r
      if (g < 3) {
        if (i >= end || s.charAt(i) != '.') return false
        i += 1
      }
      g += 1
    }
    i == end
  }

  private def mIpv6(s: String, end: Int): Boolean = {
    if (end == 2 && s.charAt(0) == ':' && s.charAt(1) == ':') return true
    // IPv4-mapped form ::ffff:a.b.c.d (RFC 4291 §2.5.5.2)
    if (end > 7 && s.charAt(0) == ':' && s.charAt(1) == ':' &&
        lower(s.charAt(2)) == 'f' && lower(s.charAt(3)) == 'f' &&
        lower(s.charAt(4)) == 'f' && lower(s.charAt(5)) == 'f' &&
        s.charAt(6) == ':' && mIpv4From(s, 7, end)) return true
    // walk ':'-separated parts; collect (count, empties, emptyAtLast, maxLen ok)
    var parts = 0
    var empties = 0
    var emptyIsLast = false
    var i = 0
    var start = 0
    var ok = true
    while (i <= end && ok) {
      if (i == end || s.charAt(i) == ':') {
        val len = i - start
        parts += 1
        if (len == 0) {
          empties += 1
          emptyIsLast = i == end
        } else if (len > 4 || !allHex(s, start, i)) ok = false
        start = i + 1
      }
      i += 1
    }
    if (!ok || parts < 2) return false
    if (empties == 0) parts == 8 // full form: 8 hex groups
    else empties == 1 && !emptyIsLast // one '::' compression, not trailing
  }

  private def mSsn(s: String, end: Int): Boolean =
    // ddd?dd?dddd with ANY non-alphanumeric separator, or bare 9 digits
    // (the reference regex_model's SSN family)
    (end == 11 && !isAlnum(s.charAt(3)) && !isAlnum(s.charAt(6)) &&
      allDigits(s, 0, 3) && allDigits(s, 4, 6) && allDigits(s, 7, 11)) ||
      (end == 9 && allDigits(s, 0, 9)) || mSsnPrefixed(s, end) ||
      mSsnMasked(s, end)

  /** Masked last-four-visible forms [Xx]{3}-[Xx]{2}-dddd and
    * \*{3}-\*{2}-dddd (each mask char independently cased — the regex
    * char class semantics; r19 tier seven). */
  private def mSsnMasked(s: String, end: Int): Boolean = {
    if (end != 11 || s.charAt(3) != '-' || s.charAt(6) != '-' ||
        !allDigits(s, 7, 11)) return false
    @inline def xm(c: Char) = c == 'X' || c == 'x'
    (xm(s.charAt(0)) && xm(s.charAt(1)) && xm(s.charAt(2)) &&
      xm(s.charAt(4)) && xm(s.charAt(5))) ||
      (s.charAt(0) == '*' && s.charAt(1) == '*' && s.charAt(2) == '*' &&
        s.charAt(4) == '*' && s.charAt(5) == '*')
  }

  /** 'SSN'-prefixed form (ci): ssn ?#? ?ddd[- ]?dd[- ]?dddd (r18). */
  private def mSsnPrefixed(s: String, end: Int): Boolean = {
    if (end < 12 || lower(s.charAt(0)) != 's' || lower(s.charAt(1)) != 's' ||
        lower(s.charAt(2)) != 'n') return false
    var i = 3
    if (i < end && s.charAt(i) == ' ') i += 1
    if (i < end && s.charAt(i) == '#') i += 1
    if (i < end && s.charAt(i) == ' ') i += 1
    if (i + 3 > end || !allDigits(s, i, i + 3)) return false
    i += 3
    if (i < end && (s.charAt(i) == '-' || s.charAt(i) == ' ')) i += 1
    if (i + 2 > end || !allDigits(s, i, i + 2)) return false
    i += 2
    if (i < end && (s.charAt(i) == '-' || s.charAt(i) == ' ')) i += 1
    i + 4 == end && allDigits(s, i, end)
  }

  private def mPhone(s: String, end: Int): Boolean = {
    @inline def sep(c: Char) = c == '-' || c == '.' || c == ' '
    def body(i0: Int): Boolean = {
      var i = i0
      if (i < end && s.charAt(i) == '(') {
        if (i + 5 > end || !allDigits(s, i + 1, i + 4) ||
            s.charAt(i + 4) != ')') return false
        i += 5
      } else {
        if (i + 3 > end || !allDigits(s, i, i + 3)) return false
        i += 3
      }
      if (i >= end || !sep(s.charAt(i))) return false
      i += 1
      if (i + 3 > end || !allDigits(s, i, i + 3)) return false
      i += 3
      if (i >= end || !sep(s.charAt(i))) return false
      i += 1
      i + 4 == end && allDigits(s, i, i + 4)
    }
    // RFC 3966 tel: URI — (?i)tel:\+?[0-9]([-. ]?[0-9]){6,14}: 7-15
    // digits, optional single visual separators, must end on a digit.
    // No other phone form starts with a letter, so return directly
    if (startsWithCi(s, "tel:", end)) {
      var i = 4
      if (i < end && s.charAt(i) == '+') i += 1
      if (i >= end || !isDigit(s.charAt(i))) return false
      i += 1
      var digits = 1
      while (i < end) {
        val c = s.charAt(i)
        if (isDigit(c)) { digits += 1; i += 1 }
        else if (sep(c) && i + 1 < end && isDigit(s.charAt(i + 1))) {
          digits += 1; i += 2
        } else return false
      }
      return digits >= 7 && digits <= 15
    }
    // UK national with trunk-zero marker:
    // (\+[0-9]{1,3} )?\(0\)[0-9]{1,4}( [0-9]{3,4}){1,3}. On failure the
    // walk FALLS THROUGH to the remaining forms (regex alternation
    // retries every alternative) — the old direct return was equivalent
    // only while '(0)' stayed disjoint from every other phone pattern,
    // an assumption a future parenthesized form could silently break.
    @inline def ukTrunkZero: Boolean = {
      var i = 0
      if (s.charAt(0) == '+') {
        val cc = digitRun(s, 1, end)
        if (cc < 1 || cc > 3) return false
        i = 1 + cc
        if (i >= end || s.charAt(i) != ' ') return false
        i += 1
      }
      if (i + 3 > end || s.charAt(i) != '(' || s.charAt(i + 1) != '0' ||
          s.charAt(i + 2) != ')') return false
      i += 3
      val a = digitRun(s, i, end)
      if (a < 1 || a > 4) return false
      i += a
      var groups = 0
      while (i < end) {
        if (s.charAt(i) != ' ') return false
        i += 1
        val g = digitRun(s, i, end)
        if (g < 3 || g > 4) return false
        i += g
        groups += 1
      }
      groups >= 1 && groups <= 3
    }
    if (end > 0 && ukTrunkZero) return true
    // NANP international dial-out 011[- ]d{1,3}([- ]d{1,4}){2,4}
    // ('011 7 26 1018 1042' — r19 tier seven). Hyphen/space separators
    // ONLY (a dotted form would shadow zero-padded dotted IPv4 — see
    // the rule comment). Falls through on a miss so '011-555-1234'
    // still reaches the US 3-3-4 body below.
    @inline def dsep(c: Char) = c == '-' || c == ' '
    @inline def dialOut: Boolean = {
      if (end < 9 || s.charAt(0) != '0' || s.charAt(1) != '1' ||
          s.charAt(2) != '1' || !dsep(s.charAt(3))) return false
      var i = 4
      val cc = digitRun(s, i, end)
      if (cc < 1 || cc > 3) return false
      i += cc
      var groups = 0
      while (i < end) {
        if (!dsep(s.charAt(i))) return false
        i += 1
        val g = digitRun(s, i, end)
        if (g < 1 || g > 4) return false
        i += g
        groups += 1
      }
      groups >= 2 && groups <= 4
    }
    if (end > 0 && dialOut) return true
    // optional (\+?1[-. ]) prefix, regex retries without it on failure
    if (end > 2 && s.charAt(0) == '+' && s.charAt(1) == '1' &&
        sep(s.charAt(2)) && body(3)) return true
    if (end > 1 && s.charAt(0) == '1' && sep(s.charAt(1)) && body(2))
      return true
    if (body(0)) return true
    // ^\+[0-9]{7,15}$
    if (end >= 8 && end <= 16 && s.charAt(0) == '+' && allDigits(s, 1, end))
      return true
    // ^\+[0-9]{1,3}([-. ][0-9]{2,4}){2,4}$ (internationally grouped)
    if (end < 2 || s.charAt(0) != '+') return false
    var i = 1
    val cc = digitRun(s, i, end)
    if (cc < 1 || cc > 3) return false
    i += cc
    var groups = 0
    while (i < end) {
      if (!sep(s.charAt(i))) return false
      i += 1
      val g = digitRun(s, i, end)
      if (g < 2 || g > 4) return false
      // the regex group is ([-. ][0-9]{2,4}): a run longer than 4 digits
      // cannot be split (no separator inside), so it just fails
      i += g
      groups += 1
    }
    groups >= 2 && groups <= 4
  }

  private def mCreditCard(s: String, end: Int): Boolean = {
    if (end == 16) return allDigits(s, 0, 16)
    // 15-digit 34/37 Amex (reference CREDIT_CARD's strict-prefix form)
    if (end == 15) return s.charAt(0) == '3' &&
      (s.charAt(1) == '4' || s.charAt(1) == '7') && allDigits(s, 0, 15)
    // 14-digit Diners Club (IIN 300-305, 36, 38 — r18 tier six)
    if (end == 14) return allDigits(s, 0, 14) && s.charAt(0) == '3' &&
      (s.charAt(1) == '6' || s.charAt(1) == '8' ||
        (s.charAt(1) == '0' && s.charAt(2) <= '5'))
    if (end != 19) return false
    var g = 0
    while (g < 4) {
      val i = g * 5
      if (!allDigits(s, i, i + 4)) return false
      if (g < 3) {
        // ANY non-alphanumeric separator, each independent (reference)
        if (isAlnum(s.charAt(i + 4))) return false
      }
      g += 1
    }
    true
  }

  private def mHash(s: String, end: Int): Boolean =
    (end == 32 || end == 40 || end == 64) && allHex(s, 0, end)

  private def mOrdinal(s: String, end: Int): Boolean = {
    // legal-citation style: digits + lowercase 'd' ('2d', '43d') —
    // case-sensitive by design (see the ORDINAL rule comment)
    if (end >= 2 && s.charAt(end - 1) == 'd' && allDigits(s, 0, end - 1))
      return true
    if (end < 3 || !allDigits(s, 0, end - 2)) return false
    val a = lower(s.charAt(end - 2)); val b = lower(s.charAt(end - 1))
    (a == 's' && b == 't') || (a == 'n' && b == 'd') ||
    (a == 'r' && b == 'd') || (a == 't' && b == 'h')
  }

  private val TensOrdPrefix = Set("twenty", "thirty", "forty", "fifty",
    "sixty", "seventy", "eighty", "ninety")
  private val UnitOrdinals = Set("first", "second", "third", "fourth",
    "fifth", "sixth", "seventh", "eighth", "ninth")
  private val LongOrdinals = Set("tenth", "eleventh", "twelfth",
    "thirteenth", "fourteenth", "fifteenth", "sixteenth", "seventeenth",
    "eighteenth", "nineteenth", "twentieth", "thirtieth", "fortieth",
    "fiftieth", "sixtieth", "seventieth", "eightieth", "ninetieth",
    "hundredth", "thousandth", "millionth")

  /** Roman-numeral ordinal (r18 tier six): uppercase numeral chars +
    * lowercase st/nd/rd/th suffix, both case-SENSITIVE (mirrors the
    * chain's `^[IVXLCDM]+(st|nd|rd|th)$` — the case split keeps prose
    * and part numbers out). */
  private def mOrdinalRoman(s: String, end: Int): Boolean = {
    if (end < 3) return false
    val a = s.charAt(end - 2); val b = s.charAt(end - 1)
    if (!((a == 's' && b == 't') || (a == 'n' && b == 'd') ||
        (a == 'r' && b == 'd') || (a == 't' && b == 'h'))) return false
    var i = 0
    while (i < end - 2) {
      val c = s.charAt(i)
      if (c != 'I' && c != 'V' && c != 'X' && c != 'L' && c != 'C' &&
          c != 'D' && c != 'M') return false
      i += 1
    }
    true
  }

  /** Written-out word ordinals (ci): optional tens prefix + unit, or an
    * irregular teens/tens/round form ('fourth', 'twenty-first') —
    * r17 tier five. Bounds: 'first' (5) … 'seventy-seventh' (15). */
  private def mOrdinalWord(s: String, end: Int): Boolean = {
    if (end < 5 || end > 15) return false
    val sb = new java.lang.StringBuilder(end)
    var i = 0
    while (i < end) {
      val c = s.charAt(i)
      if (!isLetter(c) && c != '-') return false
      sb.append(lower(c))
      i += 1
    }
    val w = sb.toString
    val h = w.indexOf('-')
    if (h >= 0)
      TensOrdPrefix.contains(w.substring(0, h)) &&
        UnitOrdinals.contains(w.substring(h + 1))
    else UnitOrdinals.contains(w) || LongOrdinals.contains(w)
  }

  private val Units = Set("kg", "g", "mg", "lb", "lbs", "oz", "km", "mi",
    "cm", "mm", "ft", "in", "mph", "kph", "l", "ml", "gal", "%",
    // data sizes (r19 tier seven — '35.4 GB'); ci like every unit here
    "kb", "mb", "gb", "tb", "pb", "kib", "mib", "gib", "tib")

  /** ISO 4217 currency codes accepted by the QUANTITY amount rule —
    * UPPERCASE-only, space-separated (the exact chain alternation). */
  private val CurrencyCodes = Set("USD", "EUR", "GBP", "JPY", "CHF",
    "CAD", "AUD", "NZD", "CNY", "INR", "KRW", "SEK", "NOK", "DKK",
    "PLN", "CZK", "HUF", "RUB", "TRY", "BRL", "MXN", "ZAR", "SGD",
    "HKD", "THB", "IDR", "MYR", "PHP", "ILS", "AED", "SAR")

  private def mQuantity(s: String, end: Int): Boolean = {
    // money: [$€£][+-]?(([0-9],?)+(\.[0-9]*)?|\.[0-9]+) — the reference
    // QUANTITY's dollar pattern, literal digit-comma grouping included;
    // r16 widened the currency marks to € (U+20AC) and £ (U+00A3)
    if (end > 0 && (s.charAt(0) == '$' || s.charAt(0) == '€' ||
        s.charAt(0) == '£')) {
      var i = 1
      if (i < end && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      if (i < end && s.charAt(i) == '.') {
        val r = digitRun(s, i + 1, end)
        return r >= 1 && i + 1 + r == end
      }
      var n = 0
      while (i < end && isDigit(s.charAt(i))) {
        i += 1; n += 1
        if (i < end && s.charAt(i) == ',') i += 1
      }
      if (n < 1) return false
      if (i == end) return true
      if (s.charAt(i) != '.') return false
      return i + 1 + digitRun(s, i + 1, end) == end
    }
    var i = 0
    if (i < end && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    val r = digitRun(s, i, end)
    if (r < 1) return false
    i += r
    if (i < end && s.charAt(i) == '.') {
      val r2 = digitRun(s, i + 1, end)
      if (r2 < 1) return false
      i += 1 + r2
    }
    val spaced = i < end && s.charAt(i) == ' '
    if (spaced) i += 1
    if (i >= end || end - i > 3) return false
    val sb = new java.lang.StringBuilder(3)
    var j = i
    while (j < end) { sb.append(lower(s.charAt(j))); j += 1 }
    if (Units.contains(sb.toString)) return true
    // ISO 4217 currency-code amount ('10.19 EUR'): UPPERCASE-only code,
    // space REQUIRED (the units above allow a glued suffix; codes
    // don't — r18 tier six)
    spaced && end - i == 3 && CurrencyCodes.contains(s.substring(i, end))
  }

  private val IbanCountrySet: Set[String] =
    graft.labelers.RegexLabeler.IbanCountries.toSet

  private def mBan(s: String, end: Int): Boolean = {
    if (end >= 10 && end <= 18 && allDigits(s, 0, end)) return true
    // IBAN (r17 tier five): REGISTRY-country + [0-9]{2} prefix (the
    // whitelist is r19 — an open [A-Z]{2} let ULIDs leak), then either
    // the ISO 13616 paper format ( [A-Z0-9]{4}){2,7}( [A-Z0-9]{1,3})?
    // or the electronic form [A-Z0-9]{11,30} (min total 15 — disjoint
    // from DRIVERS_LICENSE, whose max is 14)
    @inline def ibanChar(c: Char) = isDigit(c) || isUpper(c)
    if (end < 14 || !isUpper(s.charAt(0)) || !isUpper(s.charAt(1)) ||
        !isDigit(s.charAt(2)) || !isDigit(s.charAt(3)) ||
        !IbanCountrySet.contains(s.substring(0, 2))) return false
    if (s.charAt(4) != ' ') {
      var j = 4
      while (j < end && ibanChar(s.charAt(j))) j += 1
      return j == end && end - 4 >= 11 && end - 4 <= 30
    }
    var j = 4
    var groups4 = 0
    while (j < end) {
      if (s.charAt(j) != ' ') return false
      j += 1
      var k = j
      while (k < end && ibanChar(s.charAt(k))) k += 1
      val len = k - j
      if (len == 4) { groups4 += 1; j = k }
      else return len >= 1 && len <= 3 && k == end && groups4 >= 2 &&
        groups4 <= 7
    }
    groups4 >= 2 && groups4 <= 7
  }

  private def mInteger(s: String, end: Int): Boolean = {
    var i = 0
    if (i < end && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    if (allDigits(s, i, end)) return true
    // SI space-grouped thousands [+-]?d{1,3}( ddd)+ — '6 285 365';
    // every group exactly 3 (r19 tier seven)
    val si1 = digitRun(s, i, end)
    if (si1 >= 1 && si1 <= 3 && i + si1 < end && s.charAt(i + si1) == ' ') {
      var j = i + si1
      var groups = 0
      var ok = true
      while (ok && j < end) {
        if (s.charAt(j) != ' ' || j + 4 > end ||
            !allDigits(s, j + 1, j + 4)) ok = false
        else { j += 4; groups += 1 }
      }
      if (ok && groups >= 1) return true
    }
    // accounting negative \([0-9]{1,3}(,[0-9]{3})+\) — '(6,285)';
    // grouping required, so a bare '(5)' stays UNKNOWN (r17 tier five)
    if (end < 7 || s.charAt(0) != '(' || s.charAt(end - 1) != ')')
      return false
    val r1 = digitRun(s, 1, end - 1)
    if (r1 < 1 || r1 > 3) return false
    var j = 1 + r1
    var groups = 0
    while (j < end - 1) {
      if (s.charAt(j) != ',') return false
      j += 1
      if (j + 3 > end - 1 || !allDigits(s, j, j + 3)) return false
      j += 3
      groups += 1
    }
    groups >= 1
  }

  private def mFloat(s: String, end: Int): Boolean = {
    var i = 0
    if (i < end && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    def exponent(j0: Int): Boolean = {
      if (j0 == end) return true
      var j = j0
      val e = s.charAt(j)
      if (e != 'e' && e != 'E') return false
      j += 1
      if (j < end && (s.charAt(j) == '+' || s.charAt(j) == '-')) j += 1
      val r = digitRun(s, j, end)
      r >= 1 && j + r == end
    }
    if (i < end && s.charAt(i) == '.') {
      val r = digitRun(s, i + 1, end)
      return r >= 1 && exponent(i + 1 + r)
    }
    val r1 = digitRun(s, i, end)
    if (r1 < 1) return false
    var j = i + r1
    if (j < end && s.charAt(j) == '.') {
      j += 1
      j += digitRun(s, j, end)
      exponent(j)
    } else {
      // ^[+-]?\d+[eE][+-]?\d+$ — the no-dot form REQUIRES an exponent
      j < end && exponent(j)
    }
  }

  /** Full European float convention [+-]?d{1,3}(.ddd)+,d+ — dot
    * thousands groups, comma decimal mark ('1.100,10'; r17 tier five). */
  private def mFloatEuro(s: String, end: Int): Boolean = {
    var i = 0
    if (i < end && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    val r1 = digitRun(s, i, end)
    if (r1 < 1 || r1 > 3) return false
    i += r1
    if (i >= end || s.charAt(i) != '.') return false
    while (i < end && s.charAt(i) == '.') {
      if (i + 4 > end || !allDigits(s, i + 1, i + 4)) return false
      i += 4
    }
    if (i >= end || s.charAt(i) != ',') return false
    val r2 = digitRun(s, i + 1, end)
    r2 >= 1 && i + 1 + r2 == end
  }

  /** Swiss apostrophe thousands [+-]?d{1,3}('ddd)+\.d+ — '1'100.10';
    * groups of exactly 3, dot decimal REQUIRED (r19 tier seven). */
  private def mFloatSwiss(s: String, end: Int): Boolean = {
    var i = 0
    if (i < end && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    val r1 = digitRun(s, i, end)
    if (r1 < 1 || r1 > 3) return false
    i += r1
    if (i >= end || s.charAt(i) != '\'') return false
    while (i < end && s.charAt(i) == '\'') {
      if (i + 4 > end || !allDigits(s, i + 1, i + 4)) return false
      i += 4
    }
    if (i >= end || s.charAt(i) != '.') return false
    val r2 = digitRun(s, i + 1, end)
    r2 >= 1 && i + 1 + r2 == end
  }

  /** Accounting-negative grouped DECIMAL \(d{1,3}(,ddd)+\.d+\) —
    * '(1,100.10)', the decimal sibling of mInteger's accounting form;
    * grouping required for the same '(5)'-stays-UNKNOWN reason (r18). */
  private def mFloatAcct(s: String, end: Int): Boolean = {
    if (end < 9 || s.charAt(0) != '(' || s.charAt(end - 1) != ')')
      return false
    val r1 = digitRun(s, 1, end - 1)
    if (r1 < 1 || r1 > 3) return false
    var j = 1 + r1
    var groups = 0
    while (j < end - 1 && s.charAt(j) == ',') {
      j += 1
      if (j + 3 > end - 1 || !allDigits(s, j, j + 3)) return false
      j += 3
      groups += 1
    }
    if (groups < 1) return false
    if (j >= end - 1 || s.charAt(j) != '.') return false
    val r2 = digitRun(s, j + 1, end - 1)
    r2 >= 1 && j + 1 + r2 == end - 1
  }

  private val StateCodes = Set(
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL", "GA", "HI",
    "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN",
    "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH",
    "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA",
    "WV", "WI", "WY")

  private val StateNames = Set(
    "alabama", "alaska", "arizona", "arkansas", "california", "colorado",
    "connecticut", "delaware", "florida", "georgia", "hawaii", "idaho",
    "illinois", "indiana", "iowa", "kansas", "kentucky", "louisiana",
    "maine", "maryland", "massachusetts", "michigan", "minnesota",
    "mississippi", "missouri", "montana", "nebraska", "nevada",
    "new hampshire", "new jersey", "new mexico", "new york",
    "north carolina", "north dakota", "ohio", "oklahoma", "oregon",
    "pennsylvania", "rhode island", "south carolina", "south dakota",
    "tennessee", "texas", "utah", "vermont", "virginia", "washington",
    "west virginia", "wisconsin", "wyoming")

  /** Traditional (AP/GPO) state abbreviations, lowercase, without the
    * terminating dot (internal dots of the N.Y.-style forms kept). */
  private val StateAbbrevs = Set("ala", "ariz", "ark", "calif", "colo",
    "conn", "del", "fla", "ga", "ill", "ind", "kan", "ky", "la", "md",
    "mass", "mich", "minn", "miss", "mo", "mont", "neb", "nev", "okla",
    "ore", "pa", "penn", "tenn", "tex", "vt", "va", "wash", "wis", "wyo",
    "n.h", "n.j", "n.m", "n.y", "n.c", "n.d", "r.i", "s.c", "s.d",
    "w.va", "d.c")

  /** SPACED-dotted two-word traditional abbrevs ('S. D.' — r19 tier
    * seven), lowercase, final dot stripped like [[StateAbbrevs]]. */
  private val StateSpacedDotted = Set("n. h", "n. j", "n. m", "n. y",
    "n. c", "n. d", "r. i", "s. c", "s. d", "w. va", "d. c")

  /** Dotless UPPERCASE traditional abbrevs ('MICH' — r18 tier six);
    * case-sensitive, 3+ letters (the ambiguous 2-letter forms stay
    * postal-only), mirroring the chain's uppercase alternation. */
  private val StateAbbrevsUpper = Set("ALA", "ARIZ", "ARK", "CALIF",
    "COLO", "CONN", "DEL", "FLA", "ILL", "IND", "KAN", "MASS", "MICH",
    "MINN", "MISS", "MONT", "NEB", "NEV", "OKLA", "ORE", "PENN", "TENN",
    "TEX", "WASH", "WIS", "WYO")

  private def mUsState(s: String, end: Int): Boolean = {
    if (end == 2) {
      // the 2-letter alternative is UPPERCASE-only (no (?i) on it)
      if (StateCodes.contains(s.substring(0, 2))) return true
    }
    if (end >= 3 && end <= 5 &&
        StateAbbrevsUpper.contains(s.substring(0, end))) return true
    if (end < 3 || end > 14) return false
    val sb = new java.lang.StringBuilder(end)
    var i = 0
    while (i < end) { sb.append(lower(s.charAt(i))); i += 1 }
    // dot-terminated traditional abbreviation ('Calif.', 'n.y.'),
    // incl. the spaced two-word forms ('S. D.' — r19 tier seven)
    if (s.charAt(end - 1) == '.' &&
      (StateAbbrevs.contains(sb.substring(0, end - 1)) ||
        StateSpacedDotted.contains(sb.substring(0, end - 1)))) return true
    end >= 4 && StateNames.contains(sb.toString)
  }

  private def mDriversLicense(s: String, end: Int): Boolean =
    // [A-Z]{1,2}[0-9]{7,12}
    (end >= 8 && end <= 14 && isUpper(s.charAt(0)) && (
      (end - 1 >= 7 && end - 1 <= 12 && allDigits(s, 1, end)) ||
        (end >= 9 && isUpper(s.charAt(1)) && end - 2 >= 7 && end - 2 <= 12 &&
          allDigits(s, 2, end)))) || mDlPrefixed(s, end)

  /** 'DL #'-prefixed, optional 2-letter state code (case-sensitive):
    * DL ?#( [A-Z]{2})? [0-9]{5,13} — 'DL# TX 10000000' (r18). */
  private def mDlPrefixed(s: String, end: Int): Boolean = {
    if (end < 9 || s.charAt(0) != 'D' || s.charAt(1) != 'L') return false
    var i = 2
    if (i < end && s.charAt(i) == ' ') i += 1
    if (i >= end || s.charAt(i) != '#') return false
    i += 1
    if (i >= end || s.charAt(i) != ' ') return false
    // optional ' XX' state group — present only when ANOTHER space
    // follows (the regex's literal space after the optional group)
    if (i + 3 < end && isUpper(s.charAt(i + 1)) && isUpper(s.charAt(i + 2)) &&
        s.charAt(i + 3) == ' ') i += 3
    i += 1
    val r = digitRun(s, i, end)
    r >= 5 && r <= 13 && i + r == end
  }

  private val AddressSuffixes = Set("st", "street", "ave", "avenue", "rd",
    "road", "blvd", "boulevard", "dr", "drive", "ln", "lane", "ct", "court",
    "way", "pl", "place", "pkwy", "parkway", "hwy", "highway", "cir",
    "circle", "ter", "terrace", "trl", "trail", "sq", "square", "cres",
    "crescent")

  private val UnitKeywords = Seq("suite", "ste", "apt", "unit", "no",
    "floor", "fl", "room", "rm")

  /** ` (suite|ste|apt|unit|no|floor|fl|room|rm)\.? ?#?[0-9A-Za-z]+`
    * anchored from i to `end` (the unit-suffix tail of the ADDRESS
    * pattern; keyword-order-insensitive — a failed tail keeps trying
    * the remaining keywords, mirroring regex alternation backtrack). */
  private def unitTailToEnd(s: String, i: Int, end: Int): Boolean = {
    if (i >= end || s.charAt(i) != ' ') return false
    var k = -1
    var w = 0
    while (k < 0 && w < UnitKeywords.length) {
      val kw = UnitKeywords(w)
      if (i + 1 + kw.length <= end) {
        var j = 0
        var ok = true
        while (ok && j < kw.length) {
          if (lower(s.charAt(i + 1 + j)) != kw.charAt(j)) ok = false
          j += 1
        }
        if (ok) {
          var p = i + 1 + kw.length
          if (p < end && s.charAt(p) == '.') p += 1
          if (p < end && s.charAt(p) == ' ') p += 1
          if (p < end && s.charAt(p) == '#') p += 1
          if (p < end) {
            var q = p
            while (q < end && isAlnum(s.charAt(q))) q += 1
            if (q == end) k = p
          }
        }
      }
      w += 1
    }
    k >= 0
  }

  private def mAddress(s: String, end: Int): Boolean = {
    @inline def midChar(c: Char) = isAlnum(c) || c == ' ' || c == '.'
    val d = digitRun(s, 0, end)
    if (d < 1 || d >= end || s.charAt(d) != ' ') return false
    // validate the middle segment ONCE left-to-right: lastMid is the
    // largest index such that d+1..lastMid are all midChars, so each
    // candidate's "middle is non-empty midChars" check below is O(1)
    // (q-1 <= lastMid) instead of a per-candidate rescan — the old form
    // was O(L²) on long space-heavy cells, and label() has no
    // cell-length cap to hide behind
    var lastMid = d
    while (lastMid + 1 < end && midChar(s.charAt(lastMid + 1))) lastMid += 1
    // enumerate candidate street-type token positions: the token after
    // space q, optionally dot-terminated, optionally followed by the
    // unit tail — the char-walk equivalent of the regex's backtracking.
    // Candidates with q > lastMid+1 can never satisfy the middle check,
    // so start the scan at the last viable position
    var q = math.min(end - 1, lastMid + 1)
    while (q > d) {
      if (s.charAt(q) == ' ') {
        // suffix token runs q+1 .. r (next space or end)
        var r = q + 1
        while (r < end && s.charAt(r) != ' ') r += 1
        var sfxEnd = r
        // regex tail is `\.?,? (unit…)`: strip the optional comma (which
        // REQUIRES the unit tail — it sits inside the optional group),
        // then the optional dot (r17: '40 Oak Cres, Unit 3')
        var hadComma = false
        if (sfxEnd > q + 1 && s.charAt(sfxEnd - 1) == ',') {
          hadComma = true; sfxEnd -= 1
        }
        if (sfxEnd > q + 1 && s.charAt(sfxEnd - 1) == '.') sfxEnd -= 1
        val len = sfxEnd - q - 1
        if (len >= 1 && len <= 9 && q > d + 1) {
          val sb = new java.lang.StringBuilder(len)
          var i = q + 1
          while (i < sfxEnd) { sb.append(lower(s.charAt(i))); i += 1 }
          if (AddressSuffixes.contains(sb.toString) &&
              (if (hadComma) r < end && unitTailToEnd(s, r, end)
               else r == end || unitTailToEnd(s, r, end))) {
            // middle segment d+1..q non-empty midChars ⟺ q-1 <= lastMid
            if (q > d + 1 && q - 1 <= lastMid) return true
          }
        }
      }
      q -= 1
    }
    false
  }

  private def mPerson(s: String, end: Int): Boolean = {
    def nameFrom(i0: Int): Boolean = {
      if (i0 >= end || !isUpper(s.charAt(i0))) return false
      var i = i0 + 1
      while (i < end && isLower(s.charAt(i))) i += 1
      i == end && i > i0 + 1
    }
    if (end < 5 || !isUpper(s.charAt(0))) return false
    var k = 1
    while (k < end && isLower(s.charAt(k))) k += 1
    if (k < 2 || k >= end || s.charAt(k) != ' ') return false
    k += 1
    // optional "X. " middle initial; regex retries without it on failure
    if (k + 2 < end && isUpper(s.charAt(k)) && s.charAt(k + 1) == '.' &&
        s.charAt(k + 2) == ' ' && nameFrom(k + 3)) return true
    nameFrom(k)
  }

  // ------------------------------------------------------------- dispatch
  private val Unknown = "UNKNOWN"

  /** Priority-chain classification of one cell. Exactly equivalent to
    * [[RegexLabeler.labelOfRegex]] / the DuckDB oracle chain. */
  def label(s: String): String = {
    val n1 = s.length
    // java.util.regex `$` also matches before one FINAL line terminator
    var n2 = -1
    if (n1 > 0) {
      val last = s.charAt(n1 - 1)
      if (last == '\n') n2 = if (n1 > 1 && s.charAt(n1 - 2) == '\r') n1 - 2 else n1 - 1
      else if (last == '\r' || last == '\u0085' || last == '\u2028' ||
        last == '\u2029') n2 = n1 - 1
    }
    if (n2 == 0) n2 = -1 // empty effective input can never match

    // one flag scan (necessary-condition guards for the matchers)
    var hasColon = false; var hasDash = false; var hasSlash = false
    var hasAt = false; var hasDot = false; var hasSpace = false
    var hasDigit = false; var hasH = false; var hasParen = false
    var i = 0
    while (i < n1) {
      val c = s.charAt(i)
      if (c == ':') hasColon = true
      else if (c == '-') hasDash = true
      else if (c == '/') hasSlash = true
      else if (c == '@') hasAt = true
      else if (c == '.') hasDot = true
      else if (c == ' ') hasSpace = true
      else if (c == 'h' || c == 'H') hasH = true
      else if (c == '(') hasParen = true
      else if (isDigit(c)) hasDigit = true
      i += 1
    }

    @inline def hit(m: (String, Int) => Boolean): Boolean =
      (n1 > 0 && m(s, n1)) || (n2 > 0 && m(s, n2))

    if (hasColon && hit(mDatetime)) "DATETIME"
    // the n==8 arm admits the separator-free compact-ISO date form
    else if ((hasDash || hasSlash || hasSpace || hasDot || n1 == 8 ||
      n2 == 8) && hit(mDate)) "DATE"
    else if ((hasColon && (hit(timeToEnd(_, 0, _)) || hit(mTimeZulu))) ||
      (hasH && (hit(mTimeH) || hit(mTimeMil))) ||
      (hasDot && hit(mTimeDot))) "TIME"
    // the paren arm admits the '(at)/(dot)' obfuscated address form
    else if ((hasAt || hasParen) && hit(mEmail)) "EMAIL_ADDRESS"
    else if ((hasColon || hasDash || hasDot || hasSpace) && n1 >= 14 &&
      hit(mMac)) "MAC_ADDRESS"
    // the trailing arms admit the TLD-less 'localhost[:port][/path]'
    // form, whose minimal spelling carries no slash, dot or colon
    else if ((hasSlash || hasDot || hasColon ||
      (n1 >= 9 && lower(s.charAt(0)) == 'l')) && hit(mUrl)) "URL"
    else if (hasDash && n1 >= 36 && hit(mUuid)) "UUID"
    else if (hasDot && hasDigit && hit(mIpv4)) "IPV4"
    else if (hasColon && hit(mIpv6)) "IPV6"
    else if (hasDigit && n1 >= 9 && hit(mSsn)) "SSN"
    else if (hasDigit && hit(mPhone)) "PHONE_NUMBER"
    else if (hasDigit && n1 >= 14 && hit(mCreditCard)) "CREDIT_CARD"
    else if (n1 >= 32 && hit(mHash)) "HASH_OR_KEY"
    // word ordinals and roman-numeral ordinals are the digit-free
    // ORDINAL realizations (r17, r18)
    else if ((hasDigit && hit(mOrdinal)) ||
      (!hasDigit && n1 >= 5 && hit(mOrdinalWord)) ||
      (!hasDigit && n1 >= 3 && hit(mOrdinalRoman))) "ORDINAL"
    else if (hasDigit && hit(mQuantity)) "QUANTITY"
    else if (hasDigit && n1 >= 10 && hit(mBan)) "BAN"
    else if (hasDigit && hit(mInteger)) "INTEGER"
    else if (hasDigit && (hit(mFloat) || (hasDot && hit(mFloatEuro)) ||
      (hasParen && hasDot && hit(mFloatAcct)) ||
      (hasDot && hit(mFloatSwiss)))) "FLOAT"
    else if (!hasDigit && hit(mUsState)) "US_STATE"
    else if (hasDigit && hit(mDriversLicense)) "DRIVERS_LICENSE"
    else if (hasSpace && hasDigit && hit(mAddress)) "ADDRESS"
    else if (hasSpace && hit(mPerson)) "PERSON"
    else Unknown
  }

  private val Utf8Labels: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]()
    RegexLabeler.Labels.foreach(l => m.put(l, UTF8String.fromString(l)))
    m
  }

  /** Codegen entry point: classify a UTF8String, returning an interned
    * UTF8String label (no per-row label allocation). */
  def labelU(u: UTF8String): UTF8String = Utf8Labels.get(label(u.toString))

  // -------------------------------------------------- two-stage fallback
  private val PriorityOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    RegexLabeler.rules.map(_.label).zipWithIndex
      .foreach { case (l, i) => m.put(l, i) }
    m
  }

  /** Labels too generic to be FALLBACK evidence: a bare number inside
    * junk or prose is not evidence the CELL is numeric — truly numeric
    * cells already matched the whole-cell chain in stage one, so in
    * fallback position the catch-alls only manufacture false INTEGER
    * votes (the pure scan path's top adversarial confusion, measured in
    * LABELER_ACCURACY.md: UNKNOWN → INTEGER). */
  private val CatchAll = java.util.Set.of("INTEGER", "FLOAT")

  /** Edge punctuation stripped per scan window — the SINGLE definition.
    * [[isEdgePunct]] (the char-walk test), [[EdgePunctClass]] (the
    * regex char class the labeler_entities / labeler_spans queries and
    * the accuracy harness use, in both its Spark and DuckDB spellings)
    * all derive from this set, so the surfaces cannot diverge again
    * (r17 advice: '<>' had reached only some of the four copies). */
  val EdgePunctChars: Set[Char] = Set('.', ',', ';', ':', '!', '?', '"',
    '\'', '(', ')', '[', ']', '<', '>')

  /** [[EdgePunctChars]] as a regex char class, valid in the Java ∩ RE2
    * subset. Every class-metacharacter is escaped — brackets today,
    * plus '-', '^', and '\' so a future addition cannot silently turn
    * the class into a range/negation/escape on all four consuming
    * surfaces (r17 advice; escaping them is class-safe in both Java
    * and RE2). */
  val EdgePunctClass: String = EdgePunctChars.toSeq.sorted.map {
    case c @ ('[' | ']' | '-' | '^' | '\\') => "\\" + c
    case c => c.toString
  }.mkString("[", "", "]")

  private def isEdgePunct(c: Char): Boolean = EdgePunctChars.contains(c)

  /** Token-window SCAN of one cell (the labeler_spans mechanism as a
    * per-cell function): label every 1..3-token window with the chain,
    * edge punctuation stripped per window, and decide by maximal munch —
    * the LONGEST window with any non-catch-all hit wins, chain priority
    * breaking ties ("123 Fake St" resolves ADDRESS, not the house
    * number's INTEGER). Returns UNKNOWN when nothing qualifies. */
  def scanLabel(s: String): String = {
    // tokenize on whitespace runs
    val toks = new java.util.ArrayList[String](8)
    var i = 0
    val n = s.length
    while (i < n) {
      if (!Character.isWhitespace(s.charAt(i))) {
        val st = i
        while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
        toks.add(s.substring(st, i))
      } else i += 1
    }
    val nt = toks.size
    var wlen = math.min(3, nt)
    while (wlen >= 1) {
      var best: String = null
      var bestPri = Int.MaxValue
      var p = 0
      while (p + wlen <= nt) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < wlen) {
          if (j > 0) sb.append(' ')
          sb.append(toks.get(p + j))
          j += 1
        }
        // strip edge punctuation, as labeler_spans does
        var lo = 0
        var hi = sb.length()
        while (lo < hi && isEdgePunct(sb.charAt(lo))) lo += 1
        while (hi > lo && isEdgePunct(sb.charAt(hi - 1))) hi -= 1
        if (hi > lo) {
          val l = label(sb.substring(lo, hi))
          if (l != Unknown && !CatchAll.contains(l)) {
            val pri = PriorityOf.get(l)
            if (pri < bestPri) { bestPri = pri; best = l }
          }
        }
        p += 1
      }
      if (best != null) return best
      wlen -= 1
    }
    Unknown
  }

  // -------------------------------------- stage 1.5: canonicalize-rematch
  /** Precompiled structural gates for [[normalizedLabel]]. Cold path
    * only (chain-UNKNOWN cells), so java.util.regex is fine here — the
    * hot path stays the hand-rolled char walk. */
  private object Norm {
    import java.util.regex.Pattern
    val grouped: Pattern =
      Pattern.compile("[+-]?\\d{1,3}(,\\d{3})+(\\.\\d+)?")
    val dashedCard: Pattern = Pattern.compile("\\d{4}-\\d{4}-\\d{4}-\\d{4}")
    val ssnish: Pattern = Pattern.compile("\\d{3}([ .])\\d{2}\\1\\d{4}")
    val dottedPhone: Pattern = Pattern.compile("\\d{3}\\.\\d{3}\\.\\d{4}")
    val intlPhone: Pattern =
      Pattern.compile("\\+\\d{1,3}(?:[ -]?\\d){7,12}")
    val dashedMac: Pattern =
      Pattern.compile("\\p{XDigit}{2}(-\\p{XDigit}{2}){5}")
    val ip4Port: Pattern =
      Pattern.compile("(\\d{1,3}\\.){3}\\d{1,3}:\\d{1,5}")
    val hTime: Pattern = Pattern.compile("\\d{1,2}h\\d{2}")
    val upOrdinal: Pattern = Pattern.compile("\\d+(ST|ND|RD|TH)")
    val oneWord: Pattern = Pattern.compile("\\p{L}[\\p{L}. ]{1,19}")
    val bareUrl: Pattern = Pattern.compile(
      "(?i)[a-z0-9-]+(\\.[a-z0-9-]+)*\\.[a-z]{2,6}(/\\S*)?",
      Pattern.CASE_INSENSITIVE)
    val acctPrefix: Pattern =
      Pattern.compile("(?i)(acct|account)\\.?\\s*(no\\.?|#)?\\s*(\\d{6,17})")
    // r15 residual-driven additions (LabelerEnsembleProbe named these
    // unseen-tier families): P.O./PO box addresses, European
    // decimal-comma numerics, and word-obfuscated emails (" at "/" dot "
    // — deliberate evasion a PII labeler must still catch)
    val poBox: Pattern =
      Pattern.compile("(?i)p\\.?\\s?o\\.?\\s*box\\s+#?\\d{1,8}")
    val decComma: Pattern = Pattern.compile("[+-]?\\d{1,12},\\d{1,2}")
    val wordEmail: Pattern = Pattern.compile("\\S+ at \\S+( dot \\S+)+")
    // r15 holdout-probe additions: space-separated and lowercase
    // drivers-license forms ('N 1000013', 'a9876543')
    val spacedDl: Pattern = Pattern.compile("[A-Za-z]{1,2} \\d{7,12}")
    val lowerDl: Pattern = Pattern.compile("[a-z]{1,2}\\d{7,12}")
    // r16 fresh-tier addition: U+2212 MINUS SIGN numerics — the minus
    // most spreadsheet exports and typeset documents emit
    val uniMinus: Pattern = Pattern.compile("−\\d+(\\.\\d+)?")
  }

  /** Canonicalize-then-rematch: a bounded set of PUBLISHED-FORMAT
    * rewrites, each gated by a structural precondition and an ACCEPT
    * LIST (a rewrite may only produce its target labels, so a transform
    * can never manufacture an unrelated false positive). This is how a
    * vocabulary labeler generalizes to close format variants without a
    * learned model: thousands-grouped numerics, dashed PANs, spaced/
    * dotted SSNs, dotted NANP and +E.164 phones, dash-separated MACs,
    * IPv4:port, 17h35 clock time, uppercase ordinal suffixes,
    * case-folded state names, scheme-less URLs, bracket-wrapped values,
    * `Acct No.`-prefixed account numbers, P.O. box addresses, European
    * decimal-comma numerics, and word-obfuscated emails. Everything
    * beyond these —
    * genuinely novel formats — remains the documented CNN-class residual
    * (LABELER_ACCURACY.md). Returns UNKNOWN when no gated rewrite
    * re-chains to its accepted label. */
  def normalizedLabel(s: String): String = {
    val n = s.length
    if (n < 2 || n > 64) return Unknown
    @inline def full(p: java.util.regex.Pattern): Boolean =
      p.matcher(s).matches()
    def accept(rewritten: String, ok: String): String = {
      val l = label(rewritten)
      if (l == ok) l else Unknown
    }
    // bracket-wrapped value: strip ONE matched pair, accept any chain hit
    val (c0, cn) = (s.charAt(0), s.charAt(n - 1))
    if ((c0 == '{' && cn == '}') || (c0 == '(' && cn == ')') ||
        (c0 == '[' && cn == ']') || (c0 == '<' && cn == '>')) {
      val l = label(s.substring(1, n - 1).trim)
      if (l != Unknown && !CatchAll.contains(l)) return l
    }
    if (full(Norm.grouped)) {
      val l = label(s.replace(",", ""))
      if (l == "INTEGER" || l == "FLOAT") return l
    }
    if (full(Norm.dashedCard))
      return accept(s.replace("-", ""), "CREDIT_CARD")
    if (full(Norm.ssnish))
      return accept(s.replace(' ', '-').replace('.', '-'), "SSN")
    if (full(Norm.dottedPhone))
      return accept(s"(${s.substring(0, 3)}) ${s.substring(4, 7)}-${s.substring(8)}",
        "PHONE_NUMBER")
    // +E.164 international form (ITU-T E.164: CC + subscriber, 8-15
    // digits total) — normalized to a direct PHONE_NUMBER accept
    if (full(Norm.intlPhone)) return "PHONE_NUMBER"
    if (full(Norm.dashedMac))
      return accept(s.replace('-', ':'), "MAC_ADDRESS")
    if (full(Norm.ip4Port))
      return accept(s.substring(0, s.lastIndexOf(':')), "IPV4")
    if (full(Norm.hTime))
      return accept(s.replace('h', ':'), "TIME")
    if (full(Norm.upOrdinal))
      return accept(s.toLowerCase(java.util.Locale.ROOT), "ORDINAL")
    if (full(Norm.bareUrl) && s.indexOf('/') >= 0)
      return accept("http://" + s, "URL")
    // case-folded state name ("california", "MASS.") — title-case each
    // word and re-chain, accepting US_STATE ONLY (title-casing arbitrary
    // words must never manufacture a PERSON hit)
    if (full(Norm.oneWord)) {
      val tc = s.toLowerCase(java.util.Locale.ROOT).split(" ").map { w =>
        if (w.isEmpty) w else w.substring(0, 1).toUpperCase + w.substring(1)
      }.mkString(" ")
      val l = label(tc)
      if (l == "US_STATE") return l
      val up = label(s.toUpperCase(java.util.Locale.ROOT))
      if (up == "US_STATE") return up
    }
    val am = Norm.acctPrefix.matcher(s)
    if (am.matches()) return accept(am.group(3), "BAN")
    // P.O. box (the structural precondition IS the decision, like
    // intlPhone: there is no chain form to rewrite into)
    if (full(Norm.poBox)) return "ADDRESS"
    // European decimal comma (11,20) — thousands-grouping was tried
    // above; a single comma with 1-2 trailing digits is a decimal mark
    if (full(Norm.decComma)) return accept(s.replace(',', '.'), "FLOAT")
    // word-obfuscated email ("user at mail dot com") — the rewrite must
    // re-chain to EMAIL_ADDRESS, so "stay at home dot" junk still dies
    if (full(Norm.wordEmail))
      return accept(s.replace(" at ", "@").replace(" dot ", "."),
        "EMAIL_ADDRESS")
    // space-separated / lowercase drivers-license forms — uppercase,
    // drop the space, accept DRIVERS_LICENSE only
    if (full(Norm.spacedDl))
      return accept(s.replace(" ", "").toUpperCase(java.util.Locale.ROOT),
        "DRIVERS_LICENSE")
    if (full(Norm.lowerDl))
      return accept(s.toUpperCase(java.util.Locale.ROOT), "DRIVERS_LICENSE")
    // U+2212 MINUS SIGN numeric — rewrite to ASCII '-' and accept only
    // the numeric labels
    if (full(Norm.uniMinus)) {
      val l = label("-" + s.substring(1))
      if (l == "INTEGER" || l == "FLOAT") return l
    }
    Unknown
  }

  /** TWO-STAGE structured decision: the anchored whole-cell chain; when
    * (only when) it yields UNKNOWN, the [[normalizedLabel]]
    * canonicalize-rematch pass; and when that too misses, the
    * token-window scan fallback. Cells the chain labels are untouched —
    * clean-corpus behavior is identical to [[label]] — while close
    * format variants normalize back into the vocabulary and
    * prose-embedded / punctuation-noised entities recover through the
    * scan. The quantified effect is in LABELER_ACCURACY.md's
    * adversarial table. */
  def twoStageLabel(s: String): String = {
    val l = label(s)
    if (l != Unknown) return l
    val nl = normalizedLabel(s)
    if (nl != Unknown) nl else scanLabel(s)
  }

  /** Codegen entry point for [[twoStageLabel]], interned like [[labelU]]. */
  def twoStageLabelU(u: UTF8String): UTF8String =
    Utf8Labels.get(twoStageLabel(u.toString))
}

/** `graft_label(cell)` — [[FastMatch.label]] as a native unary expression
  * that stays inside whole-stage codegen (one static call per row). */
case class FastLabel(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${FastLabel.FuncName} expects a string arg, got ${t.simpleString}")
  }
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    FastMatch.labelU(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.labelers.FastMatch.labelU($c)")

  override protected def withNewChildInternal(newChild: Expression): FastLabel =
    copy(child = newChild)
}

object FastLabel {
  val FuncName = "graft_label"

  def apply(c: Column): Column = GraftSessions.column(FastLabel(GraftSessions.expression(c)))
}

/** `graft_label_2stage(cell)` — [[FastMatch.twoStageLabel]] as a native
  * unary expression: the whole-cell chain with the token-window scan
  * fallback on UNKNOWN, one static call per row inside codegen. */
case class FastLabelTwoStage(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${FastLabelTwoStage.FuncName} expects a string arg, got ${t.simpleString}")
  }
  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    FastMatch.twoStageLabelU(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.labelers.FastMatch.twoStageLabelU($c)")

  override protected def withNewChildInternal(
      newChild: Expression): FastLabelTwoStage = copy(child = newChild)
}

object FastLabelTwoStage {
  val FuncName = "graft_label_2stage"

  def apply(c: Column): Column =
    GraftSessions.column(FastLabelTwoStage(GraftSessions.expression(c)))
}
