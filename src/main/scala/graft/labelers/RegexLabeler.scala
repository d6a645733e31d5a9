package graft.labelers

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Regex entity labeler — the Spark-native default labeler (SURVEY §2.11).
  *
  * The reference's marquee feature is per-column entity detection: a
  * char-level CNN over the 24-label vocabulary
  * (resources/labelers/structured_model/label_mapping.json), with a
  * RegexModel alternative (labelers/regex_model.py:20-306). A TF model is
  * not portable to a JVM executor, so the deterministic regex family is
  * the v1 default here (SURVEY §7.1 step 7), with the same label
  * vocabulary and the same per-column vote/threshold semantics
  * (data_labeler_column_profile.py:240-270, :395-438).
  *
  * Scale shape: `labelOf` is one codegen'd CASE-WHEN chain of `rlike`
  * predicates — a pure map-side Column expression, no UDF, no model
  * broadcast, no per-row JVM⇄model boundary. Labeling 100 TB is a scan;
  * the only shuffle is the per-column vote aggregation (bounded by
  * 24 labels × columns).
  *
  * Patterns are anchored full-match and stay inside the Java-regex ∩ RE2
  * common subset so the DuckDB oracle evaluates them identically.
  * PAD is a model-training artifact (never a cell label); UNKNOWN is the
  * fallthrough. PERSON/ADDRESS are inherently weak as regexes (the
  * reference needs the CNN for them) — they sit last in priority and are
  * documented as heuristic.
  */
object RegexLabeler {

  /** One label with its pattern alternatives. Order in [[rules]] is the
    * decision priority: first full match wins (the deterministic
    * counterpart of RegexPostProcessor's priority aggregation,
    * data_processing.py:1868-2100).
    *
    * `guard` is a cheap NECESSARY condition of the patterns (length /
    * contains / has-digit tests — no regex Matcher allocation): a cell
    * failing the guard can never match the patterns, so `labelOf` skips
    * their evaluation without changing any result. Profiling showed the
    * chain's per-cell cost is dominated by the ~170 ns fixed cost of
    * each rlike Matcher allocation (~4 µs/cell over 24 rules); guards
    * cut the average rule to a few ns. The DuckDB oracle keeps the pure
    * regex chain (RE2 needs no such help) — results are identical
    * because guards are implied by their patterns. Length upper bounds
    * carry a +2 allowance over each pattern's maximal match: Java's `$`
    * also matches before a FINAL line terminator (\n or \r\n), so a
    * matching cell can be up to 2 bytes longer than the pattern's own
    * maximum — RegexGuardSpec property-checks the guarded chain against
    * [[graft.labelers.FastMatch]] including terminator-bearing inputs. */
  final case class LabelRule(label: String, patterns: Seq[String],
      guard: Column => Column = _ => lit(true))

  val Labels: Seq[String] = Seq(
    "PAD", "UNKNOWN", "ADDRESS", "BAN", "CREDIT_CARD", "DATE", "TIME",
    "DATETIME", "DRIVERS_LICENSE", "EMAIL_ADDRESS", "UUID", "HASH_OR_KEY",
    "IPV4", "IPV6", "MAC_ADDRESS", "PERSON", "PHONE_NUMBER", "SSN", "URL",
    "US_STATE", "INTEGER", "FLOAT", "QUANTITY", "ORDINAL")

  /** ISO 13616 IBAN registry country codes (the public SWIFT list).
    * The IBAN patterns' former unrestricted `[A-Z]{2}` prefix let a
    * Crockford-base32 ULID with a letter-letter-digit-digit head
    * ('KT18FPX4…') leak into BAN (r19 tier-seven junk census); the
    * registry is closed, so the chain can demand a real country. */
  val IbanCountries: Seq[String] = Seq(
    "AD", "AE", "AL", "AT", "AZ", "BA", "BE", "BG", "BH", "BI", "BR",
    "BY", "CH", "CR", "CY", "CZ", "DE", "DJ", "DK", "DO", "EE", "EG",
    "ES", "FI", "FO", "FR", "GB", "GE", "GI", "GL", "GR", "GT", "HR",
    "HU", "IE", "IL", "IQ", "IS", "IT", "JO", "KW", "KZ", "LB", "LC",
    "LI", "LT", "LU", "LV", "LY", "MC", "MD", "ME", "MK", "MN", "MR",
    "MT", "MU", "NI", "NL", "NO", "OM", "PK", "PL", "PS", "PT", "QA",
    "RO", "RS", "RU", "SA", "SC", "SD", "SE", "SI", "SK", "SM", "SO",
    "ST", "SV", "TL", "TN", "TR", "UA", "VA", "VG", "XK")
  private val ibanCc = IbanCountries.mkString("(", "|", ")")

  private val date = "[0-9]{4}-[0-9]{2}-[0-9]{2}"
  private val dateUs = "[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}"
  private val time = "[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?( ?(?i)[ap]m)?"
  // time with optional fractional seconds (log/ISO convention) — the
  // fraction is only legal after an explicit seconds group
  private val timeFrac =
    "[0-9]{1,2}:[0-9]{2}(:[0-9]{2}(\\.[0-9]{1,9})?)?( ?(?i)[ap]m)?"
  private val monthName =
    "(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*"
  private val ip4Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"

  /** Priority-ordered rules. More specific shapes come first so e.g. a
    * 16-digit card is CREDIT_CARD (not BAN/INTEGER) and an ISO timestamp
    * is DATETIME (not DATE). r15 holdout-probe additions (each a
    * real-world convention the held-out tier named): named-month
    * datetimes, fractional seconds, YYYY/MM/DD and DD-Mon-YYYY dates,
    * military 'HHMM hrs' time, Cisco dotted MACs (rule moved above URL
    * so the alpha-TLD-shaped dotted triple resolves MAC), IPv4-mapped
    * IPv6, unit-suffixed street addresses, and traditional state
    * abbreviations. */
  val rules: Seq[LabelRule] = Seq(
    LabelRule("DATETIME", Seq(
      s"^$date[ T]${timeFrac}Z?$$",
      s"^$dateUs $time$$",
      // named-month form: 'Mar 13, 2023 5:40 PM'
      s"^(?i)$monthName [0-9]{1,2},? [0-9]{4},? $time$$",
      // RFC 2822 (the email Date: header — 'Tue, 13 Jul 2020
      // 16:40:00 +0200'): 3-letter weekday, day month year, time,
      // optional numeric or named zone (r17 tier-five census)
      s"^(?i)(mon|tue|wed|thu|fri|sat|sun), [0-9]{1,2} $monthName " +
        s"[0-9]{4} $time( [+-][0-9]{4}| (gmt|ut|utc|z))?$$",
      // asctime / unix date(1) ('Sat May 13 16:40:00 UTC 2020', day
      // space-padded in the classic ctime layout): weekday month day
      // hh:mm:ss, optional 2-5 letter zone abbrev or numeric offset,
      // trailing year (r18 tier-six census)
      s"^(?i)(mon|tue|wed|thu|fri|sat|sun) $monthName +[0-9]{1,2} " +
        s"[0-9]{1,2}:[0-9]{2}:[0-9]{2}( [a-z]{2,5}| [+-][0-9]{4})? " +
        s"[0-9]{4}$$"),
      c => instr(c, ":") > 0),
    LabelRule("DATE", Seq(
      s"^$date$$",
      s"^$dateUs$$",
      // US slash form with 2-digit year (%m/%d/%y — the reference's
      // integration suite labels '4/3/22' as a date,
      // test_integration_struct_data_labeler.py:13-21)
      "^[0-9]{1,2}/[0-9]{1,2}/[0-9]{2}$",
      // big-endian slash form yyyy/m/d
      "^[0-9]{4}/[0-9]{1,2}/[0-9]{1,2}$",
      // European dotted form dd.mm.yyyy
      "^[0-9]{1,2}\\.[0-9]{1,2}\\.[0-9]{4}$",
      // log-file form dd-Mon-yyyy
      s"^[0-9]{1,2}-(?i)$monthName-[0-9]{4}$$",
      // day may carry an ordinal suffix ('28th July 2023' — r16 fresh
      // tier)
      s"^(?i)[0-9]{1,2}(st|nd|rd|th)? $monthName [0-9]{4}$$",
      s"^(?i)$monthName [0-9]{1,2},? [0-9]{4}$$",
      // ISO 8601 basic (compact) form yyyymmdd with a plausible
      // century, month and day — without the month/day bounds every
      // 8-digit integer would turn into a date (r16 fresh tier)
      "^(19|20)[0-9]{2}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])$",
      // ISO 8601 week date yyyy-Www(-d) ('2021-W18-4') — uppercase W,
      // week 01-53, optional weekday 1-7 (r18 tier-six census)
      "^[0-9]{4}-W(0[1-9]|[1-4][0-9]|5[0-3])(-[1-7])?$",
      // ISO 8601 ordinal date yyyy-ddd ('2021-052') — day-of-year
      // 001-366, zero-padded to 3 digits (r19 tier-seven census)
      "^[0-9]{4}-(00[1-9]|0[1-9][0-9]|[12][0-9]{2}|3[0-5][0-9]|36[0-6])$"),
      c => length(c).between(6, 22)),
    LabelRule("TIME", Seq(
      s"^$time$$",
      // 24h 'h'-separated form (07h30)
      "^[0-9]{1,2}[hH][0-9]{2}$",
      // military form '2359 hrs' / '0700hrs'
      "^([01][0-9]|2[0-3])[0-5][0-9] ?(?i)hrs?$",
      // dot-separator minutes with glued/spaced meridiem ('9.05am' —
      // r16 fresh tier; the meridiem is what keeps '9.05' a FLOAT)
      "^[0-9]{1,2}\\.[0-9]{2} ?(?i)[ap]m$",
      // zulu-suffixed UTC time ('00:00:00Z') — uppercase Z glued to an
      // optional-seconds 24h time, NO meridiem (r19 tier-seven census)
      "^[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?Z$"),
      c => (instr(c, ":") > 0 || instr(lower(c), "h") > 0 ||
        instr(lower(c), "m") > 0) && length(c) <= 13),
    LabelRule("EMAIL_ADDRESS", Seq(
      "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$",
      // RFC 5322 name-addr ('Jane Doe <user@ex.org>') — the most
      // common convention in real mail exports; without it the scan
      // stage's maximal munch resolves the display NAME (PERSON) and
      // mis-routes the PII (r16 fresh tier)
      "^[A-Za-z][A-Za-z .'-]{0,40}" +
        "<[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}>$",
      // RFC 6068 mailto: URI — the address IS the PII; without the
      // scheme'd form the NB mis-votes the local part (r17 tier five)
      "^(?i)mailto:[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$",
      // scraper-evasion '(at)/(dot)' obfuscation ('bob3(at)ex1(dot)org')
      // — still an address, and exactly the kind of PII a redaction
      // pass must not miss (r18 tier-six census); domain labels are
      // dot-free by construction, final label pure alpha
      "^(?i)[a-z0-9._%+-]+\\(at\\)[a-z0-9-]+(\\(dot\\)[a-z0-9-]+)*" +
        "\\(dot\\)[a-z]{2,}$"),
      c => instr(c, "@") > 0 || instr(lower(c), "(at)") > 0),
    LabelRule("MAC_ADDRESS", Seq(
      "^([0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}$",
      "^([0-9a-fA-F]{2}-){5}[0-9a-fA-F]{2}$",
      // space-separated octets (r16 fresh tier)
      "^([0-9a-fA-F]{2} ){5}[0-9a-fA-F]{2}$",
      // Cisco dotted-triple form — sits BEFORE URL because an
      // alpha-TLD-shaped triple ('001b.4444.ccdc') must resolve MAC
      "^[0-9a-fA-F]{4}\\.[0-9a-fA-F]{4}\\.[0-9a-fA-F]{4}$"),
      c => length(c).between(14, 19)),
    LabelRule("URL", Seq(
      "^(?i)(https?|ftp)://[A-Za-z0-9.-]+(:[0-9]+)?(/[^ ]*)?$",
      "^(?i)www\\.[A-Za-z0-9.-]+\\.[A-Za-z]{2,}(/[^ ]*)?$",
      // schemeless host.tld (reference's URL scheme is optional): final
      // label pure-alpha 2-6, optional port and no-space path
      "^[A-Za-z0-9][A-Za-z0-9.-]*\\.[A-Za-z]{2,6}(:[0-9]+)?(/[^ ]*)?$",
      // protocol-relative ('//cdn.example.com/lib.js') — the scheme
      // inherits from context but the cell is still a URL (r16 fresh)
      "^//[A-Za-z0-9][A-Za-z0-9.-]*\\.[A-Za-z]{2,6}(:[0-9]+)?(/[^ ]*)?$",
      // dev-loop localhost endpoints ('localhost:8080/health') — the
      // one TLD-less host every service corpus contains (r16 fresh)
      "^(?i)localhost(:[0-9]+)?(/[^ ]*)?$",
      // generic RFC 3986 scheme'd locator ('s3://bucket/shard=0/p.pq',
      // 'hdfs://nn:8020/x', 'gs://…') — object-store and filesystem
      // schemes are how a data pipeline spells most of its URLs; any
      // letter-led scheme followed by '://', a host/bucket token,
      // optional port and no-space path (r19 tier-seven census; the NB
      // used to vote INTEGER on the shard digits)
      "^(?i)[a-z][a-z0-9+.-]*://[A-Za-z0-9.-]+(:[0-9]+)?(/[^ ]*)?$"),
      c => instr(c, "/") > 0 || instr(c, ".") > 0 ||
        instr(lower(c), "localhost") > 0),
    LabelRule("UUID", Seq(
      "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
      // Microsoft registry form: the same UUID in braces
      "^\\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\}$",
      // RFC 4122 URN form — a chain rule so even the degenerate
      // all-zero nil UUID resolves deterministically instead of
      // reaching the NB (the carried tier-five residual, r18)
      "^(?i)urn:uuid:[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-" +
        "[0-9a-f]{12}$",
      // Windows registry 'GUID='-prefixed braced form (r18 tier six —
      // the same degenerate-nil argument as the URN form above)
      "^(?i)guid=\\{[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-" +
        "[0-9a-f]{12}\\}$",
      // bare 'uuid:'-prefixed form (the URN form minus its 'urn:' —
      // common in log/config exports; a chain rule so the all-zero nil
      // resolves deterministically, r19 tier-seven census)
      "^(?i)uuid:[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-" +
        "[0-9a-f]{12}$"),
      c => length(c).between(36, 47) && instr(c, "-") > 0),
    LabelRule("IPV4", Seq(
      s"^($ip4Octet\\.){3}$ip4Octet$$"),
      c => instr(c, ".") > 0 && length(c).between(7, 17)),
    LabelRule("IPV6", Seq(
      "^([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}$",
      "^([0-9a-fA-F]{1,4}:)*:([0-9a-fA-F]{1,4}:)*[0-9a-fA-F]{1,4}$",
      // IPv4-mapped form (RFC 4291 §2.5.5.2)
      s"^::[fF]{4}:($ip4Octet\\.){3}$ip4Octet$$",
      "^::$"),
      c => instr(c, ":") > 0),
    LabelRule("SSN", Seq(
      // reference regex_model SSN family (model_parameters.json): any
      // single non-alphanumeric separator, and the bare 9-digit form
      "^[0-9]{3}[^0-9A-Za-z][0-9]{2}[^0-9A-Za-z][0-9]{4}$",
      "^[0-9]{9}$",
      // 'SSN'-prefixed, optionally '#'-glued ('SSN#123456789') — the
      // prefix is what makes the otherwise-BAN-shaped digits an SSN
      // (r18 tier-six census)
      "^(?i)ssn ?#? ?[0-9]{3}[- ]?[0-9]{2}[- ]?[0-9]{4}$",
      // masked forms with only the last four visible ('XXX-XX-1121',
      // '***-**-1121') — exactly how redacted exports spell an SSN;
      // still SSN evidence a PII scanner must route (r19 tier seven)
      "^[Xx]{3}-[Xx]{2}-[0-9]{4}$",
      "^\\*{3}-\\*{2}-[0-9]{4}$"),
      c => length(c).between(9, 18)),
    LabelRule("PHONE_NUMBER", Seq(
      "^(\\+?1[-. ])?(\\([0-9]{3}\\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}$",
      "^\\+[0-9]{7,15}$",
      // internationally-grouped: +CC then 2-4 separator-delimited groups
      "^\\+[0-9]{1,3}([-. ][0-9]{2,4}){2,4}$",
      // RFC 3966 tel: URI, optional visual separators (r16 fresh tier)
      "^(?i)tel:\\+?[0-9]([-. ]?[0-9]){6,14}$",
      // UK national convention with the optional-trunk-zero marker:
      // '(0)20 7946 0018', optionally '+44 '-prefixed (r16 fresh tier)
      "^(\\+[0-9]{1,3} )?\\(0\\)[0-9]{1,4}( [0-9]{3,4}){1,3}$",
      // NANP international dial-out ('011 7 26 1018 1042'): the 011
      // exit code, then country code and 2-4 separator-delimited
      // groups — the NB mis-voted these CREDIT_CARD on the 15+ grouped
      // digits (r19 tier-seven census). Separators are hyphen/space
      // ONLY: a dotted form would shadow zero-padded dotted IPv4
      // ('011.033.077.121'), which the NB recovers past the chain's
      // strict-octet rule
      "^011[- ][0-9]{1,3}([- ][0-9]{1,4}){2,4}$"),
      c => length(c).between(8, 36)),
    LabelRule("CREDIT_CARD", Seq(
      // reference allows ANY non-alphanumeric group separator and the
      // 15-digit 34/37 Amex form (model_parameters.json CREDIT_CARD)
      "^[0-9]{4}[^0-9A-Za-z][0-9]{4}[^0-9A-Za-z][0-9]{4}[^0-9A-Za-z][0-9]{4}$",
      "^[0-9]{16}$",
      "^3[47][0-9]{13}$",
      // Diners Club 14-digit PANs (IIN 300-305, 36, 38) — without the
      // strict-prefix form they fall through to BAN (r18 tier six)
      "^3(0[0-5]|[68][0-9])[0-9]{11}$"),
      c => length(c).between(14, 21)),
    LabelRule("HASH_OR_KEY", Seq(
      "^[0-9a-fA-F]{32}$", "^[0-9a-fA-F]{40}$", "^[0-9a-fA-F]{64}$"),
      c => length(c).between(32, 34) || length(c).between(40, 42) ||
        length(c).between(64, 66)),
    LabelRule("ORDINAL", Seq(
      "^[0-9]+(?i)(st|nd|rd|th)$",
      // legal-citation style ('2d', '43d', '103d') — lowercase only:
      // Bluebook ordinals are always lowercase, and case-sensitivity
      // keeps part-number junk like '500D' out (r16 fresh tier)
      "^[0-9]+d$",
      // written-out word ordinals ('fourth', 'twenty-first') — the
      // one vocabulary label whose realizations can be digit-free
      // (r17 tier-five census): optional tens prefix + unit ordinal,
      // and the irregular teens/tens/round forms
      "^(?i)((twenty|thirty|forty|fifty|sixty|seventy|eighty|ninety)-)?" +
        "(first|second|third|fourth|fifth|sixth|seventh|eighth|ninth)$",
      "^(?i)(tenth|eleventh|twelfth|thirteenth|fourteenth|fifteenth|" +
        "sixteenth|seventeenth|eighteenth|nineteenth|twentieth|thirtieth|" +
        "fortieth|fiftieth|sixtieth|seventieth|eightieth|ninetieth|" +
        "hundredth|thousandth|millionth)$",
      // roman-numeral ordinals, regnal/outline style ('XXVth', 'Ist'):
      // uppercase numeral + lowercase suffix, both case-SENSITIVE —
      // the case split is what keeps prose ('month') and part numbers
      // out (r18 tier-six census)
      "^[IVXLCDM]+(st|nd|rd|th)$"),
      c => length(c) >= 2),
    LabelRule("QUANTITY", Seq(
      // r19 tier seven added the data-size units (kb…tib) — '35.4 GB'
      // is the quantity every storage/corpus census is full of
      "^[+-]?[0-9]+(\\.[0-9]+)? ?(?i)(kg|g|mg|lb|lbs|oz|km|mi|cm|mm|ft|in|mph|kph|l|ml|gal|%|kb|mb|gb|tb|pb|kib|mib|gib|tib)$",
      // money (reference QUANTITY's dollar pattern, incl. its literal
      // digit-comma grouping); r16 fresh tier widened the currency
      // marks to the euro and pound signs
      "^[$€£][+-]?(([0-9],?)+(\\.[0-9]*)?|\\.[0-9]+)$",
      // ISO 4217 currency-code amounts ('10.19 EUR') — uppercase-only
      // codes, space-separated (r18 tier-six census)
      "^[+-]?[0-9]+(\\.[0-9]+)? (USD|EUR|GBP|JPY|CHF|CAD|AUD|NZD|CNY|" +
        "INR|KRW|SEK|NOK|DKK|PLN|CZK|HUF|RUB|TRY|BRL|MXN|ZAR|SGD|HKD|" +
        "THB|IDR|MYR|PHP|ILS|AED|SAR)$")),
    LabelRule("BAN", Seq(
      "^[0-9]{10,18}$",
      // ISO 13616 paper-format IBAN ('GB29 NWBK 6016 1331 9268 19'):
      // REGISTRY country + check digits, space-separated 4-char groups,
      // short final group. ≥2 groups so the minimal spelling stays ≥14
      // chars (r17 tier five; country whitelist r19 — see IbanCountries)
      s"^$ibanCc[0-9]{2}( [A-Z0-9]{4}){2,7}( [A-Z0-9]{1,3})?$$",
      // electronic (unspaced) IBAN — min total length 15, so it stays
      // disjoint from DRIVERS_LICENSE's [A-Z]{1,2}[0-9]{7,12} (max 14)
      s"^$ibanCc[0-9]{2}[A-Z0-9]{11,30}$$"),
      c => length(c).between(10, 45)),
    LabelRule("INTEGER", Seq(
      "^[+-]?[0-9]+$",
      // accounting-negative, thousands-grouped ('(6,285)') — the
      // bracket-strip transform deliberately excludes catch-all labels,
      // so the convention needs its own anchored form (r17 tier five);
      // grouping required: a bare '(5)' stays UNKNOWN by design
      "^\\([0-9]{1,3}(,[0-9]{3})+\\)$",
      // SI / BIPM / French space-grouped thousands ('6 285 365') — all
      // groups exactly 3 after a 1-3 digit lead, so phone-shaped mixed
      // groupings stay out (r19 tier-seven census)
      "^[+-]?[0-9]{1,3}( [0-9]{3})+$")),
    LabelRule("FLOAT", Seq(
      "^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$",
      "^[+-]?[0-9]+[eE][+-]?[0-9]+$",
      // full European convention ('1.100,10'): dot thousands groups,
      // comma decimal mark (r17 tier-five census). The lone-comma form
      // without dot groups stays a canonicalize transform (decComma)
      "^[+-]?[0-9]{1,3}(\\.[0-9]{3})+,[0-9]+$",
      // accounting-negative grouped DECIMAL ('(1,100.10)') — the
      // decimal sibling of INTEGER's '(6,285)' form; grouping required
      // for the same reason (r18 tier-six census)
      "^\\([0-9]{1,3}(,[0-9]{3})+\\.[0-9]+\\)$",
      // Swiss apostrophe thousands grouping ('1'100.10') — groups of
      // exactly 3, dot decimal REQUIRED so the feet-inches tick junk
      // ('9'9\"') and apostrophe INTEGERS stay out (r19 tier seven)
      "^[+-]?[0-9]{1,3}('[0-9]{3})+\\.[0-9]+$"),
      c => instr(c, ".") > 0 || instr(c, "e") > 0 || instr(c, "E") > 0),
    LabelRule("US_STATE", Seq(
      "^(A[LKZR]|C[AOT]|D[EC]|FL|GA|HI|I[DLNA]|K[SY]|LA|M[EDAINSOT]|" +
        "N[EVHJMYCD]|O[HKR]|PA|RI|S[CD]|T[NX]|UT|V[TA]|W[AVIY])$",
      "^(?i)(alabama|alaska|arizona|arkansas|california|colorado|connecticut|" +
        "delaware|florida|georgia|hawaii|idaho|illinois|indiana|iowa|kansas|" +
        "kentucky|louisiana|maine|maryland|massachusetts|michigan|minnesota|" +
        "mississippi|missouri|montana|nebraska|nevada|new hampshire|" +
        "new jersey|new mexico|new york|north carolina|north dakota|ohio|" +
        "oklahoma|oregon|pennsylvania|rhode island|south carolina|" +
        "south dakota|tennessee|texas|utah|vermont|virginia|washington|" +
        "west virginia|wisconsin|wyoming)$",
      // traditional (AP/GPO) abbreviations, dot-terminated
      "^(?i)(ala|ariz|ark|calif|colo|conn|del|fla|ga|ill|ind|kan|ky|la|md|" +
        "mass|mich|minn|miss|mo|mont|neb|nev|okla|ore|pa|penn|tenn|tex|vt|" +
        "va|wash|wis|wyo|n\\.h|n\\.j|n\\.m|n\\.y|n\\.c|n\\.d|r\\.i|s\\.c|" +
        "s\\.d|w\\.va|d\\.c)\\.$",
      // the same traditional abbrevs DOTLESS but UPPERCASE-only
      // ('MICH', 'CALIF' — ALL-CAPS headers/exports drop the dot);
      // case-sensitivity keeps prose words (mass, miss, ore) out, and
      // the ambiguous 2-letter forms stay postal-only (r18 tier six)
      "^(ALA|ARIZ|ARK|CALIF|COLO|CONN|DEL|FLA|ILL|IND|KAN|MASS|MICH|" +
        "MINN|MISS|MONT|NEB|NEV|OKLA|ORE|PENN|TENN|TEX|WASH|WIS|WYO)$",
      // SPACED-dotted traditional two-word abbrevs ('S. D.', 'N. Y.' —
      // the typeset AP convention puts a space after each period); the
      // NB mis-voted these PERSON on the initials shape (r19 tier 7)
      "^(?i)(n\\. h|n\\. j|n\\. m|n\\. y|n\\. c|n\\. d|r\\. i|s\\. c|" +
        "s\\. d|w\\. va|d\\. c)\\.$"),
      c => length(c).between(2, 16)),
    LabelRule("DRIVERS_LICENSE", Seq(
      "^[A-Z]{1,2}[0-9]{7,12}$",
      // 'DL #'-prefixed form, optional 2-letter state code
      // ('DL# TX 10000000') — the prefix is the license evidence the
      // state token would otherwise shadow into US_STATE (r18 tier six)
      "^DL ?#( [A-Z]{2})? [0-9]{5,13}$"),
      c => length(c).between(8, 22)),
    LabelRule("ADDRESS", Seq(
      // r16 fresh tier added the Pkwy-class suffixes (pkwy/hwy/cir/
      // ter/trl and their long forms) and floor/room unit keywords;
      // r17 tier five added Sq/Cres (square/crescent — the common UK/
      // Commonwealth street types) and an optional comma before the
      // unit tail ('40 Oak Cres, Unit 3')
      "^[0-9]+ [A-Za-z0-9 .]+ (?i)(st|street|ave|avenue|rd|road|blvd|" +
        "boulevard|dr|drive|ln|lane|ct|court|way|pl|place|pkwy|parkway|" +
        "hwy|highway|cir|circle|ter|terrace|trl|trail|sq|square|cres|" +
        "crescent)\\.?" +
        "(,? (suite|ste|apt|unit|no|floor|fl|room|rm)\\.? ?#?[0-9A-Za-z]+)?$"),
      c => instr(c, " ") > 0),
    LabelRule("PERSON", Seq(
      "^[A-Z][a-z]+ ([A-Z]\\. )?[A-Z][a-z]+$"),
      c => instr(c, " ") > 0))

  /** CONTAINMENT-NECESSARY conditions for a trained-model (NB) vote to
    * land on a label — the r15 vocabulary-consistency gate for
    * [[graft.labelers.DataLabeler.NbFallback]]. Unlike [[LabelRule]]
    * guards (whole-cell necessary conditions, including length UPPER
    * bounds), these must hold even when the entity is EMBEDDED in a
    * longer cell — the fallback's main recovery class — so only
    * containment tests and length LOWER bounds qualify (an upper bound
    * would veto correct votes on prose-embedded entities). Crucially
    * each condition is necessary for the label CONCEPT, not for the
    * chain's exact patterns — the NB exists to generalize past the
    * chain, so e.g. the IPv4 quad containment accepts zero-padded
    * octets the chain itself rejects. The r15 LabelerEnsembleProbe
    * named the first two (EMAIL without '@', short HASH); the r15
    * HOLDOUT probe named the rest — unguarded NB votes were the whole
    * 0.052 near-miss precision tier (7-digit "cards", 5-octet "IPv4",
    * truncated MACs). Each entry carries its DuckDB-SQL twin (same
    * function subset: instr/length/regexp), applied in lockstep by the
    * `labeler_nb_fallback` oracle. */
  val nbGuards: Seq[(String, (Column => Column, String => String))] = {
    // count of chars from `cls` (a regex char class body) in the cell
    def classCount(cls: String) = (
      (c: Column) => length(regexp_replace(c, s"[^$cls]", "")),
      (c: String) => s"length(regexp_replace($c, '[^$cls]', '', 'g'))")
    val (digitsCol, digitsSql) = classCount("0-9")
    val (hexCol, hexSql) = classCount("0-9a-fA-F")
    def containsRe(re: String) = (
      (c: Column) => c.rlike(re),
      (c: String) => s"regexp_matches($c, '${re.replace("'", "''")}')")
    val digit = containsRe("[0-9]")
    // a standalone dotted quad (not a run of 5+ octets), octets 1-3
    // digits — leading zeros allowed: the concept, not the chain octet.
    // The suffix admits ONE trailing dot not followed by a digit
    // ('noted: 1.2.3.4.' — sentence punctuation is a true realization,
    // NbGuardSpec pins it) while still rejecting a fifth octet.
    val quad = containsRe(
      "(^|[^0-9.])([0-9]{1,3}\\.){3}[0-9]{1,3}(\\.([^0-9.]|$)|[^0-9.]|$)")
    // a minimal email core: local@label(.label)+ with non-empty labels
    val emailCore = containsRe(
      "[A-Za-z0-9._%+-]+@([A-Za-z0-9-]+\\.)+[A-Za-z]{2,}")
    Seq(
      "EMAIL_ADDRESS" -> emailCore,
      "HASH_OR_KEY" -> ((c: Column) => length(c) >= 32,
        (c: String) => s"length($c) >= 32"),
      "CREDIT_CARD" -> ((c: Column) => digitsCol(c) >= 13,
        (c: String) => s"${digitsSql(c)} >= 13"),
      // SSN concept: 9 digits in 3-2-4 grouping (single non-alnum
      // separators, optionally spaced) or one contiguous 9-digit run —
      // any true SSN realization contains one of these, while digit
      // counting alone let ISBN-13s (3-1-2-6-1 grouping, 13 digits)
      // through (the r16 junk-tier NB precision leak)
      "SSN" -> containsRe(
        "[0-9]{3} ?[^0-9A-Za-z] ?[0-9]{2} ?[^0-9A-Za-z] ?[0-9]{4}" +
          "|[0-9]{9}"),
      // PHONE concept: a 7+ digit run whose separators are phone
      // punctuation ([-. ()]) and whose START is not glued to a
      // letter/dash (an 'ORD-'-style id prefix is never a phone
      // realization — the r17 junk-tier leak), containing at least one
      // NONZERO digit (the all-zero nil-UUID digit soup is not a phone
      // — the carried tier-five degenerate-cell residual)
      "PHONE_NUMBER" -> (
        (c: Column) =>
          c.rlike("(^|[^A-Za-z0-9-])[0-9]([-. ()]?[0-9]){6,}") &&
            c.rlike("[1-9]"),
        (c: String) =>
          s"(regexp_matches($c, " +
            "'(^|[^A-Za-z0-9-])[0-9]([-. ()]?[0-9]){6,}') AND " +
            s"regexp_matches($c, '[1-9]'))"),
      // BAN concept: a 10-18 digit run with alnum-free boundaries (a
      // base64 blob's digit stretches are letter-glued — the r17
      // junk-tier leak) or an IBAN country+check+group prefix
      "BAN" -> containsRe(
        "(^|[^0-9A-Za-z])[0-9]{10,18}([^0-9A-Za-z]|$)" +
          "|[A-Z]{2}[0-9]{2} ?[A-Z0-9]{4}"),
      "MAC_ADDRESS" -> ((c: Column) => hexCol(c) >= 12,
        (c: String) => s"${hexSql(c)} >= 12"),
      "UUID" -> ((c: Column) => hexCol(c) >= 32,
        (c: String) => s"${hexSql(c)} >= 32"),
      "IPV4" -> quad,
      "IPV6" -> ((c: Column) => instr(c, ":") > 0,
        (c: String) => s"instr($c, ':') > 0"),
      "URL" -> ((c: Column) => instr(c, ".") > 0 || instr(c, "/") > 0,
        (c: String) => s"(instr($c, '.') > 0 OR instr($c, '/') > 0)"),
      // DL concept: up to two letters + a 7-12 digit run with clean
      // boundaries; the letter prefix must not be DASH-glued (a
      // git-describe '-g1000000' hash rides its dash-joined marker —
      // the r17 junk-tier leak — while true licenses sit at a cell
      // start or after space/punct), or an explicit 'DL#' prefix
      "DRIVERS_LICENSE" -> containsRe(
        "(^|[^0-9A-Za-z-])[A-Za-z]{0,2}[0-9]{7,12}([^0-9A-Za-z]|$)" +
          "|DL ?#"),
      // FLOAT concept: a decimal/comma-marked digit pair (or a bare
      // leading-dot decimal, or scientific notation) whose token is
      // not letter-, digit- or dot-glued on the left — 'v2.3.4'
      // version strings are never float realizations (the r17
      // junk-tier leak)
      "FLOAT" -> containsRe(
        "(^|[^0-9A-Za-z.])[0-9][0-9.,]*[.,][0-9]" +
          "|(^|[^0-9A-Za-z.])\\.[0-9]" +
          "|(^|[^0-9A-Za-z.])[0-9]+(\\.[0-9]+)?[eE][+-]?[0-9]"),
      // every state spelling has two consecutive letters OR a dotted
      // single-letter pair, optionally spaced ('n.y.', 'N. Y.') —
      // 'x9@y'-style junk has none of these (r16 fresh tier named the
      // miss; NbGuardSpec caught the dotted case on the first
      // formulation, self-review the spaced-dotted one)
      "US_STATE" -> containsRe("[A-Za-z]{2}|[A-Za-z]\\. ?[A-Za-z]"),
      // INTEGER concept: a digit run NOT glued to letters on either
      // side — 'python3'/'v2'-style identifier digits are never an
      // integer realization, and they were the r16 junk-tier shebang →
      // INTEGER NB leak; r18 also excludes the feet-inches tick marks
      // ('9''9"' digits are measurements, not integers — the r17
      // junk-tier leak); grouped/parenthesized/punctuated realizations
      // ('(6,285)', 'count: 42') all keep clean boundaries
      "INTEGER" -> containsRe(
        "(^|[^0-9A-Za-z'\"])[0-9]+([^0-9A-Za-z'\"]|$)"),
      "DATE" -> digit, "TIME" -> digit,
      "DATETIME" -> digit,
      // ORDINAL realizations may be written-out words (r17) — digit-free
      "ORDINAL" -> containsRe(
        "[0-9]|(?i)(first|second|third|fourth|fifth|sixth|seventh|" +
          "eighth|ninth|tenth|teenth|ieth|hundredth|thousandth|" +
          "millionth)"),
      "QUANTITY" -> digit,
      "ADDRESS" -> digit)
  }

  /** The [[nbGuards]] gate as a CASE over (`label`, raw-cell) SQL
    * expressions — a vote failing its label's containment condition is
    * demoted to UNKNOWN. */
  def nbGateSql(labelExpr: String, rawExpr: String): String = {
    val whens = nbGuards.map { case (l, (_, sql)) =>
      s"WHEN $labelExpr = '$l' AND NOT (${sql(rawExpr)}) THEN 'UNKNOWN'"
    }.mkString(" ")
    s"CASE $whens ELSE $labelExpr END"
  }

  /** Cell → label. Production path: the [[FastMatch]] hand-rolled
    * classifier as a native expression (one static call per row inside
    * whole-stage codegen, ~40× cheaper than the java.util.regex chain).
    * `FastMatchSpec` property-checks it equivalent to [[labelOfRegex]],
    * and the DuckDB oracle still evaluates the regex chain — so every
    * labeler CORRECTNESS row compares two independent implementations. */
  def labelOf(c: Column): Column = FastLabel(c)

  /** Cell → label as ONE codegen'd CASE-WHEN chain of rlike predicates
    * (first match wins; null stays null; no match → UNKNOWN). The
    * reference semantics [[FastMatch]] must reproduce exactly; kept as
    * the equivalence-spec oracle and for the `labeler_votes` bench twin. */
  def labelOfRegex(c: Column): Column = {
    val chain = rules.foldLeft(Option.empty[Column]) { (acc, r) =>
      // guard first: And short-circuits in codegen, so the Matcher
      // allocations behind rlike only happen for guard-passing cells
      val hit = r.guard(c) && r.patterns.map(p => c.rlike(p)).reduce(_ || _)
      Some(acc match {
        case None => when(hit, lit(r.label))
        case Some(w) => w.when(hit, lit(r.label))
      })
    }.get
    when(c.isNull, lit(null).cast("string"))
      .otherwise(chain.otherwise(lit("UNKNOWN")))
  }

  /** The same priority chain as ANSI SQL for the DuckDB oracle.
    *
    * Terminator parity: Java's `$` (and [[FastMatch]], which replicates
    * it — the reference's Python `re` shares the quirk) also matches
    * before ONE final line terminator; RE2's `$` matches only at end of
    * text. Stripping exactly one final terminator from the RE2 input
    * makes the engines agree on terminator-bearing cells: "123\n" labels
    * INTEGER on both, "123\n\n" labels UNKNOWN on both (only the FINAL
    * terminator is allowed, and the strip removes only one). The
    * `labeler_terminator` query drives this parity through the oracle
    * gate every round. */
  def labelSqlExpr(cellExpr: String): String = {
    val stripped = s"regexp_replace($cellExpr, " +
      "'(\\r\\n|[\\n\\r\\x{0085}\\x{2028}\\x{2029}])\\z', '')"
    val whens = rules.map { r =>
      val cond = r.patterns
        .map(p => s"regexp_matches($stripped, '${p.replace("'", "''")}')")
        .mkString("(", " OR ", ")")
      s"WHEN $cond THEN '${r.label}'"
    }.mkString("\n    ")
    s"CASE WHEN $cellExpr IS NULL THEN NULL\n    $whens\n    ELSE 'UNKNOWN' END"
  }

  /** Decision thresholds of DataLabelerColumn
    * (data_labeler_column_profile.py:240-270): top label must carry ≥ 0.35
    * of the votes, labels within 0.2 of the top ratio join the answer. */
  val MinTopRatio = 0.35
  val JoinBand = 0.2

  /** votes → data_label: rank by vote ratio; "could not determine" if the
    * top ratio is under [[MinTopRatio]]; otherwise pipe-join every label
    * whose ratio is within [[JoinBand]] of the top (vote aggregation of
    * data_labeler_column_profile.py:395-438, UNKNOWN excluded from the
    * candidate set the same way the reference drops its background
    * label). */
  def decide(votes: Map[String, Long]): String = {
    val total = votes.values.sum.toDouble
    if (total == 0) return "could not determine"
    val ranked = votes.view.filterKeys(_ != "UNKNOWN").toMap
      .map { case (l, v) => l -> v / total }
      .toSeq.sortBy { case (l, r) => (-r, l) }
    ranked.headOption match {
      case Some((_, top)) if top >= MinTopRatio =>
        ranked.takeWhile { case (_, r) => top - r <= JoinBand }
          .map(_._1).mkString("|")
      case _ => "could not determine"
    }
  }
}
