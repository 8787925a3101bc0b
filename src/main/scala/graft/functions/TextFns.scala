package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines.
  * All pure Catalyst expressions (codegen'd, no UDFs): at 100 TB these run
  * inside whole-stage codegen on the scan, shuffling nothing.
  */
object TextFns {

  /** Bind an expression to a lambda variable so the body evaluates it ONCE
    * per row: Catalyst's projection collapse would otherwise substitute the
    * full expression tree into every reference — for `tokens` referenced
    * inside a per-shingle lambda that means re-running the regex split once
    * PER SHINGLE (quadratic per document). */
  private[graft] def bindOnce(e: Column)(body: Column => Column): Column =
    element_at(transform(array(e), v => body(v)), 1)

  /** 60-bit truncated-md5 long key — the oracle-replayable hash shared by
    * the dedup / decontamination / classifier / repetition pipelines.
    * DuckDB computes the IDENTICAL value as
    * `CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)`; 15 hex digits
    * stay inside a signed BIGINT. Keep every use on this ONE definition —
    * a drifted copy silently breaks oracle parity for just that query. */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count heuristic: words plus intra-word punctuation
    * splits — a cheap stand-in for a real tokenizer's token count. */
  def subwordCount(text: Column): Column =
    size(split(trim(text), "[\\s\\p{Punct}]+"))

  /** Word n-gram shingles (the unit for MinHash / Jaccard near-dup).
    * NOTE: Spark `sequence(1, 0)` yields a DESCENDING [1,0], not an empty
    * array — short texts must be special-cased to an empty shingle set. */
  def wordShingles(text: Column, n: Int): Column = {
    if (n == 1) tokens(text) // 1-shingles ARE the tokens
    else bindOnce(tokens(text)) { toks =>
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(
          transform(
            sequence(lit(1), size(toks) - lit(n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
    }
  }

  /** Character n-grams of the lowercased text. */
  def charNgrams(text: Column, n: Int): Column =
    bindOnce(lower(text)) { t =>
      when(length(t) < n, array().cast("array<string>"))
        .otherwise(
          transform(
            sequence(lit(1), length(t) - lit(n - 1)),
            i => t.substr(i, lit(n))))
    }

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Unicode normalization (UTR #15) — native generated expression
    * ([[graft.expressions.UnicodeNormalize]]); `form` ∈ NFC/NFD/NFKC/NFKD.
    * The canonical first step before fingerprinting or shingling: composed
    * and decomposed spellings of the same text must hash identically. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.UnicodeNormalize(
        org.apache.spark.sql.GraftColumnBridge.expression(text), form))

  /** Shannon character entropy in integer micro-nats — native generated
    * expression ([[graft.expressions.CharEntropyMicro]]), one pass per row,
    * no per-character explode. Quantized-long form so downstream aggregates
    * stay order-independent and oracle-replayable. */
  def charEntropyMicro(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.CharEntropyMicro(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Character entropy in nats (double surface): the micro value / 1e6. */
  def charEntropy(text: Column): Column =
    charEntropyMicro(text).cast("double") / lit(1e6)

  /** Rolling-hash document fingerprint (content-addressed identity for
    * exact dedup): md5 of the canonicalized text. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** PII scrubbing: replace email addresses and phone-number-shaped digit
    * runs with typed placeholder tokens. Patterns restricted to syntax that
    * parses identically under Java regex and RE2 (no backrefs/lookaround)
    * so an oracle engine applies the very same rewrite. Codegen'd
    * regexp_replace — runs on the scan.
    */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Common second-level public suffixes (a deliberately small, documented
    * subset of the Public Suffix List — swap in the full list as a broadcast
    * lookup for production). */
  val secondLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "gov.uk", "ac.uk", "com.au", "net.au",
    "co.jp", "co.kr", "com.br", "com.mx", "co.in", "com.cn")

  /** URL normalization for URL-keyed dedup and domain statistics: strip the
    * fragment, lowercase the scheme+authority (path/query case preserved),
    * drop default ports (http:80, https:443), and trim trailing slashes.
    * Pure codegen'd regexp work on the scan — the canonical first step
    * before grouping a crawl by URL at 100 TB. Regex syntax restricted to
    * the Java∩RE2-portable subset so an oracle engine applies the identical
    * rewrite (only the backreference marker differs per dialect). */
  def normalizeUrl(url: Column): Column =
    bindOnce(regexp_replace(url, "#.*", "")) { u =>
      bindOnce(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)) { auth =>
        val authLower  = lower(auth)
        val noPort = regexp_replace(
          regexp_replace(authLower, "^(http://.*):80$", "$1"),
          "^(https://.*):443$", "$1")
        val rest = u.substr(length(auth) + lit(1), length(u))
        concat(noPort, regexp_replace(rest, "/+$", ""))
      }
    }

  /** Tracking-parameter names stripped by [[stripTrackingParams]] — the
    * usual analytics/click identifiers that fragment URL-keyed dedup (the
    * same crawl page appears under thousands of distinct `utm_` URLs). */
  val trackingParamPattern: String =
    "utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid"

  /** Strip tracking query parameters (`utm_*`, `gclid`, `fbclid`, …) —
    * the second canonicalization step after [[normalizeUrl]] for URL-keyed
    * crawl dedup. Backreference-free by construction so the identical
    * rewrite runs under Java regex and RE2: the literal `?` → `?&` rewrite
    * gives every parameter an explicit `&` anchor (no lookbehind needed),
    * anchored params are dropped, and the separators tidy back up with
    * literal replaces. Assumes one `?` per URL (the RFC 3986 shape). */
  def stripTrackingParams(url: Column): Column = {
    val anchored = call_function("replace", url, lit("?"), lit("?&"))
    val dropped  = regexp_replace(anchored,
      s"&($trackingParamPattern)=[^&#]*", "")
    val restored = call_function("replace", dropped, lit("?&"), lit("?"))
    val noEmptyQ = call_function("replace", restored, lit("?#"), lit("#"))
    regexp_replace(noEmptyQ, "\\?$", "")
  }

  /** HTML → text extraction (the C4/CommonCrawl preprocessing step): drop
    * `<script>`/`<style>` payloads and comments, strip the remaining tags,
    * decode the common character entities, collapse whitespace. A pure
    * codegen'd regexp pipeline on the scan — Java∩RE2-portable syntax
    * (non-greedy spans, inline `(?is)` flags; no backrefs/lookaround), so
    * an ANSI oracle replays the rewrite verbatim. Entity order matters:
    * `&amp;` decodes LAST so `&amp;lt;` yields literal `&lt;` (single-pass
    * decode), never `<`. */
  def htmlToText(html: Column): Column = {
    val noScript  = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle   = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags    = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        call_function("replace", c, lit(from), lit(to))
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Renders [[stripTrackingParams]] as an ANSI SQL expression over
    * `inner` — the oracle side of the rewrite, kept NEXT to the Spark side
    * so the two chains cannot drift apart. */
  def stripTrackingParamsSqlExpr(inner: String): String = {
    val anchored = s"replace($inner, '?', '?&')"
    val dropped =
      s"regexp_replace($anchored, '&($trackingParamPattern)=[^&#]*', '', 'g')"
    val restored = s"replace($dropped, '?&', '?')"
    val noEmptyQ = s"replace($restored, '?#', '#')"
    s"regexp_replace($noEmptyQ, '\\?$$', '', 'g')"
  }

  /** Renders [[htmlToText]] as an ANSI SQL expression over `inner` — the
    * identical regexp/replace chain (entity order included), colocated so
    * oracle parity is structural. */
  def htmlToTextSqlExpr(inner: String): String = {
    val noScript =
      s"regexp_replace($inner, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    val noStyle =
      s"regexp_replace($noScript, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    val noComment = s"regexp_replace($noStyle, '(?s)<!--.*?-->', ' ', 'g')"
    val noTags = s"regexp_replace($noComment, '<[^>]*>', ' ', 'g')"
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "''", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        s"replace($c, '$from', '$to')"
      }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Host part of a (normalized or raw) URL, lowercased. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "://([^/:?#]+)", 1))

  /** Registrable domain (eTLD+1): the last two host labels, or three when
    * the final two form a known second-level suffix (`co.uk` etc). The unit
    * for domain-level quality filtering and blocklists. */
  def registrableDomain(host: Column): Column =
    bindOnce(split(host, "\\.")) { p =>
      when(size(p) <= 2, concat_ws(".", p))
        .when(concat_ws(".", slice(p, -2, 2)).isin(secondLevelSuffixes: _*),
          concat_ws(".", slice(p, -3, 3)))
        .otherwise(concat_ws(".", slice(p, -2, 2)))
    }

  /** Per-language stopword sets for the n-gram/stopword language-ID
    * heuristic. Small built-in lists (public common stopwords). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "pour", "que", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  /** Count of distinct tokens that hit a stopword list. (array_intersect is
    * distinct-set semantics — mirrored by DuckDB list_intersect for oracle
    * parity.) */
  def stopwordHits(text: Column, lang: String): Column =
    size(array_intersect(tokens(lower(text)),
      array(stopwords(lang).map(lit): _*)))

  /** Language-ID heuristic: argmax of stopword hits with a stable tie-break
    * on language code; "und" (undetermined) when nothing hits. */
  def langId(text: Column): Column = {
    val scored = stopwords.keys.toSeq.sorted.map { l =>
      struct(stopwordHits(text, l).as("hits"), lit(l).as("lang"))
    }
    // max over (hits, lang-desc) — stable: higher hits win, then earlier code
    val best = scored.reduce { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: length band, mean word length band,
    * punctuation density, stopword presence — the usual cheap pre-filter
    * before expensive dedup/training steps. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nToks  = tokenCount(text).cast("double")
    val meanWord = nChars / greatest(nToks, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(nChars, lit(1.0))
    val lenOk   = when(nChars >= 100 && nChars <= 20000, 1.0).otherwise(0.0)
    val wordOk  = when(meanWord >= 3 && meanWord <= 12, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio <= 0.1, 1.0).otherwise(0.0)
    val stopOk  = when(stopwordHits(text, "en") >= 2, 1.0).otherwise(0.0)
    (lenOk + wordOk + punctOk + stopOk) / lit(4.0)
  }
}
