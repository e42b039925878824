package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a training-data pipeline: token stats,
  * quality scoring, language-ID heuristic, fingerprinting. Built-ins
  * only — every expression stays codegen'd, per-row linear work, no
  * shuffle, so the functions scale with the scan.
  */
object Text {

  def tokens(text: Column): Column = split(text, " ")

  /** [[tokens]] minus the ''-artifacts that consecutive, leading, or
    * trailing spaces produce — the TERM-LEVEL tokenizer (the LangModel
    * precedent): an empty string must never become a scored term, a
    * vocabulary entry, or a document-length count.
    */
  def nonEmptyTokens(text: Column): Column =
    filter(tokens(text), t => t =!= "")

  /** "a b" join keys for consecutive element pairs of an array column,
    * as a map-side HOF (no explode-and-self-join): `zip_with` pads the
    * shorter side with null, which null-propagates through concat, and
    * the trailing null pair dies in the HOF filter. ONE definition for
    * the BPE trainers' pair mining and the bigram LM — previously
    * three hand-maintained copies in two files with two null-filter
    * styles, where a semantics fix to one would silently desync the
    * tokenizer trainers from the LM's bigram mining. Callers pass
    * empty-filtered element arrays, so the space separator is
    * unambiguous.
    */
  def adjacentPairs(t: Column): Column =
    filter(
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      p => p.isNotNull)

  /** Whitespace-robust token split (multiple spaces / tabs collapse).
    * The empty-token filter covers the edges Spark's primitives leak:
    * trim strips only the SPACE character (a tab/newline-edged string
    * still splits to a leading ''), and split keeps trailing empties
    * (limit -1) — both would reintroduce the ''-artifact this function
    * exists to eliminate.
    */
  def tokensWs(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** BPE-ish subword count: word-boundary pieces plus punctuation as
    * separate tokens (a cheap, deterministic proxy for tokenizer cost).
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(t) > 0))

  /** [[bpeishTokenCount]] in closed form: the lookaround split yields
    * one piece per maximal alphanumeric run plus one per non-alnum
    * character — two codegen'd regex passes instead of a split + HOF
    * filter, and (unlike lookaround, which RE2 lacks) expressible in
    * any engine, so the count is oracle-checkable. Cross-checked
    * bit-for-bit against the split form in `SimilarityTextSpec`.
    */
  def bpeishTokenCountClosed(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+")) +
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9]", "")))

  /** GPT-2-style pre-tokenizer pieces (the `\'s | ?\p{L}+ | ?\p{N}+ ...`
    * recipe, ASCII-restricted): contraction suffixes, space-prefixed
    * letter runs, space-prefixed digit runs, space-prefixed symbol
    * runs, then bare space runs. Piece count ~ tokenizer cost, the
    * budget column sequence packing and price estimation key on.
    * Written to the Java-regex ∩ RE2 subset (non-capturing groups and
    * greedy `?` only — no lookaround), and both engines resolve
    * alternation leftmost-first, so external engines count the
    * identical pieces.
    */
  val Gpt2ishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  def gpt2PieceCount(text: Column): Column =
    regexp_count(text, lit(Gpt2ishPattern))

  /** All word n-grams WITH multiplicity — unlike `Dedup.shingles`
    * (which distincts for set-Jaccard), repetition analysis needs the
    * counts. Same guards as shingles: docs shorter than n tokens yield
    * an empty array (NOT a descending `sequence(1, 0)` artifact), and
    * the token array is let-bound through a single-element `transform`
    * so Catalyst does not inline the tokenizer into every `element_at`.
    */
  def ngrams(text: Column, n: Int): Column =
    element_at(
      transform(array(tokens(text)), w => {
        val grams = transform(
          sequence(lit(1), size(w) - lit(n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(w, i + lit(o))): _*))
        when(size(w) < n, array().cast("array<string>")).otherwise(grams)
      }),
      1)

  /** REGISTRY CONVENTION: counts are over the raw single-space split,
    * ''-artifacts included — tokenCount('') is 1, a double space mints
    * a phantom token — and every oracle replays the same
    * `string_split(text, ' ')`, so the convention is cross-engine
    * consistent by construction (47 oracle sites; see the
    * q_text_rolling comment). The artifacts also keep the ratio
    * denominators nonzero under ANSI. Consequence: ratios and gates
    * built on these counts assume whitespace-NORMALIZED input; run a
    * messy corpus through the whitespace/HTML cleaners first, or use
    * [[nonEmptyTokens]] where artifact-free counts matter
    * (fleschReadingEase does).
    */
  def tokenCount(text: Column): Column = size(tokens(text))

  def uniqueTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Type-token ratio — vocabulary diversity in [0,1]. */
  def typeTokenRatio(text: Column): Column =
    uniqueTokenCount(text).cast("double") / tokenCount(text)

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "for", "on", "with")

  def stopwordCount(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / tokenCount(text)

  /** ASCII punctuation, as an EXPLICIT class (the four printable-ASCII
    * ranges around the alphanumerics): the previous complement class
    * `[^A-Za-z0-9 ]` counted every non-ASCII LETTER — é, ü, all of
    * CJK/Cyrillic/Arabic — and every tab/newline as "punctuation", so
    * multilingual prose read punct-heavy and failed quality gates
    * wholesale (the same silent multilingual-loss channel the
    * fingerprint fix closed). Sits in the Java-regex ∩ RE2 subset.
    */
  val PunctClassPattern: String = "[!-/:-@\\[-`{-~]"

  /** Punctuation density — fraction of ASCII-punctuation chars
    * ([[PunctClassPattern]]; non-ASCII letters and whitespace are
    * NEITHER alphanumeric nor punctuation). Empty text is defined as
    * 0.0 (Spark's Divide would yield NULL for 0/0 where IEEE engines
    * yield NaN — pinning the empty case keeps the column
    * engine-portable and lets quality filters classify rather than
    * drop empty docs).
    */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, PunctClassPattern, "")))
        .cast("double") / length(text))

  /** Composite quality gate in the C4/Gopher style: enough tokens, sane
    * mean token length, some stopword signal, bounded punctuation.
    */
  def qualityFlag(text: Column): Column = {
    val nTok = tokenCount(text)
    val meanLen = length(text).cast("double") / nTok
    nTok >= 10 && meanLen >= 2.0 && meanLen <= 12.0 && punctRatio(text) < 0.2
  }

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — this is the deterministic, dependency
    * -free tier; a real model slots in behind the same column signature.
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "that", "this"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "los", "las", "una", "está", "por", "para", "como"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "不", "人"))

  /** Language guess: the language whose marker lexicon hits the most
    * tokens; ties and zero-hit rows fall back to "und". Pure column
    * expressions — at scale this is a map-side-only pass.
    */
  /** Flesch reading-ease ingredients, engine-portably: words are the
    * whitespace token count, sentences are runs of terminal
    * punctuation (floored at 1 so fragment docs still score), and
    * syllables are approximated as vowel GROUPS per lowercased text
    * ([aeiouy]+ runs — the classic cheap estimator). All three are
    * exact integers from the Java-regex ∩ RE2 pattern subset, so a
    * DuckDB oracle recounts them identically.
    */
  def sentenceCount(text: Column): Column =
    greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))

  def syllableCountApprox(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))

  /** Flesch reading ease `206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)` over the approximations above — the
    * standard readability quality channel (low = academic sludge or
    * OCR junk, ~60–70 = plain prose). Two IEEE divisions and one
    * left-associated linear combination — deterministic cross-engine;
    * NULL for wordless input via try_divide.
    */
  def fleschReadingEase(text: Column): Column = {
    // word count via nonEmptyTokens: tokenCount('') is 1 (the
    // ['']-split artifact), which made the wordless try_divide guard
    // dead code — an empty/blank doc scored ~205.8, far above the real
    // scale max, instead of the documented NULL
    val words = size(nonEmptyTokens(text)).cast("double")
    val sents = sentenceCount(text).cast("double")
    val sylls = syllableCountApprox(text).cast("double")
    lit(206.835) - lit(1.015) * try_divide(words, sents) -
      lit(84.6) * try_divide(sylls, words)
  }

  /** URL canonicalization for dedup/provenance keys: lowercase the
    * scheme+host, drop the fragment, strip tracking parameters
    * (utm_*, fbclid, gclid), and drop an emptied query — so the same
    * resource fetched via different campaign links collapses to ONE
    * key. Pure string/array primitives (regex in the Java ∩ RE2
    * subset, split → list-filter → rejoin for the query string), so
    * an external engine replays the canonical form byte-for-byte.
    * Path, surviving params, and their order are preserved —
    * reordering params is a semantic claim this operator does not
    * make. Non-URL input (no recognized scheme://host head) passes
    * through with ONLY the fragment rule applied — the query-string
    * rules are gated on the head, so a plain-text value containing
    * '?' (e.g. "really?utm_source=x") keeps its tail untouched.
    */
  def canonicalizeUrl(url: Column): Column = {
    // (?s): Java '.' excludes \n and '$' won't match mid-string, so a
    // fragment containing a newline (scraped junk) survived the strip
    // and the head regex then swallowed it into the "host" — the same
    // resource canonicalized to two different dedup keys (firstUrl /
    // urlDomain harden against this corrupted-input class already)
    val noFrag = regexp_replace(url, "(?s)#.*", "")
    val head = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    val tail = substring(noFrag, length(head) + 1, lit(1 << 30))
    val path = substring_index(tail, "?", 1)
    val rawQuery = when(tail.contains("?"),
      regexp_replace(tail, "^[^?]*\\?", "")).otherwise(lit(""))
    val kept = filter(split(rawQuery, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"))
    // lowercase ONLY scheme and host[:port] — the documented contract.
    // A blanket lower(head) also rewrote case-sensitive userinfo
    // ("Alice:SeCrEt@...") so the canonical URL no longer dereferenced
    // to the same resource, and distinct-credential URLs collapsed.
    // Userinfo splits at the LAST '@' (RFC 3986: '@' may appear inside
    // userinfo, never in host).
    val scheme = regexp_extract(head, "^([a-zA-Z][a-zA-Z0-9+.-]*://)", 1)
    val auth = substring(head, length(scheme) + 1, lit(1 << 30))
    val canonHead = concat(lower(scheme),
      when(auth.contains("@"),
        concat(regexp_replace(auth, "@[^@]*$", ""), lit("@")))
        .otherwise(lit("")),
      lower(regexp_extract(auth, "([^@]*)$", 1)))
    when(length(head) > 0,
      concat(canonHead, path,
        when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
          .otherwise(lit(""))))
      .otherwise(noFrag)
  }

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = LangMarkers.map {
      // CJK text is UNSEGMENTED — whole-token matching against
      // single-character markers would never fire (a real Chinese doc
      // is one giant token), so zh scores by marker-character
      // occurrences instead; CJK chars cannot appear inside Latin
      // tokens, so the channels stay disjoint
      case ("zh", markers) =>
        "zh" -> size(regexp_extract_all(
          text, lit(markers.mkString("|")), lit(0)))
      case (lang, markers) =>
        lang -> size(filter(toks, t => t.isInCollection(markers)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // a TIE between languages carries no signal: und, as documented —
    // not the first language in lexicon order
    val nBest = scores
      .map { case (_, s) => when(s === best, lit(1)).otherwise(lit(0)) }
      .reduce(_ + _)
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0 && nBest === 1, lit(lang)).otherwise(acc)
    }
  }

  /** Canonical content fingerprint: md5 of case-folded, punctuation-
    * stripped, whitespace-collapsed text. Exact-dedup key robust to
    * formatting noise.
    *
    * Text whose normalization comes out EMPTY — CJK/Cyrillic/Arabic,
    * emoji- or punctuation-only content, anything outside [a-z0-9] —
    * falls back to fingerprinting the RAW text: the naive form
    * collapsed every such document to md5(''), so one admitted CJK doc
    * made an exact-dedup gate reject every other non-Latin doc forever
    * (silent, unbounded training-data loss in a multilingual corpus).
    * The fallback keeps exact copies matching while distinct non-Latin
    * docs stay distinct; formatting-noise robustness is Latin-only by
    * construction of the alphabet. NULL stays NULL (md5(NULL)), as
    * before.
    */
  def normalizedFingerprint(text: Column): Column = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))
    md5(when(norm === "", text).otherwise(norm))
  }

  /** PII-shaped patterns, written to the common subset of Java regex
    * (Spark) and RE2 (DuckDB, many scanners): no backrefs, no
    * lookaround, so the SAME pattern string runs in both engines and
    * the masking is oracle-checkable.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (9+): account-/phone-/ID-shaped. Deliberately no
    * word-boundary anchors — a digit run embedded in a token is still
    * masked, which is the conservative choice for training data.
    */
  val LongNumberPattern = "[0-9]{9,}"

  /** Redact PII-shaped spans: emails then long digit runs, replaced by
    * typed placeholder tokens. Pure map-side regexp_replace chain —
    * codegen'd, scan-speed. This is the deterministic regex tier; an
    * NER model slots in behind the same column contract.
    */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      LongNumberPattern, "<ID>")

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))

  /** First http(s) URL in the text ('' when none) — the hook for
    * provenance analysis over web-scraped corpora. Pattern sits in the
    * Java-regex ∩ RE2 subset like the PII patterns, so external engines
    * extract the identical span.
    */
  def firstUrl(text: Column): Column =
    // all whitespace terminates, not just the space character — a URL
    // at end-of-line would otherwise run across the newline into the
    // next line's first word (explicit class: RE2 and Java agree on
    // \t\n\r; \s does not sit in the verified common subset)
    regexp_extract(text, "https?://[^ \t\n\r]+", 0)

  /** Registrable host of a URL ('' for non-URLs): the authority up to
    * the first '/', ':' or '?'. Map-side regex — no UDF, no parser
    * library — which is what per-domain corpus policy (caps, quality
    * priors, licensing tiers) keys on at 100 TB.
    */
  def urlDomain(url: Column): Column =
    // same whitespace rule as firstUrl: a newline-corrupted input must
    // not mint a fragmented "x.com\nnext" domain key for per-domain
    // policy to cap against
    regexp_extract(url, "https?://([^/:? \t\n\r]+)", 1)

  def longNumberCount(text: Column): Column =
    regexp_count(text, lit(LongNumberPattern))

  /** HTML → text extraction — the web-corpus front door (the
    * trafilatura/jusText slot, as the deterministic regex tier):
    * drops script/style/head subtrees wholesale (their content is
    * never prose), strips remaining tags and comments, decodes the
    * six ubiquitous entities, and collapses whitespace. Every pattern
    * sits in the Java-regex ∩ RE2 subset — `(?is)` flags and lazy
    * `.*?` only, no backrefs, no lookaround — so an external engine
    * replays the extraction span-for-span and the operator is
    * oracle-checkable. Pure map-side regexp chain: codegen'd,
    * scan-speed at any corpus size; a DOM-aware boilerplate model
    * slots in behind the same column contract.
    */
  /** One pattern PER dropped tag, applied script → style → head: a
    * combined alternation's lazy closer can match the WRONG tag
    * (`<head><script>…</script><title>T</title></head>` would end the
    * head match at `</script>` and leak the title into the prose).
    * Per-tag passes are immune — script/style cannot nest in HTML, and
    * any script/style inside head is gone before the head pass runs.
    * Backreferences would also fix it but live outside the RE2 subset
    * the oracle engine replays.
    */
  private[graft] val HtmlSubtreePatterns = Seq(
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "(?is)<head[^>]*>.*?</head>")
  private[graft] val HtmlCommentPattern = "(?s)<!--.*?-->"
  private[graft] val HtmlTagPattern = "<[^>]+>"
  // EXPLICIT class, not \s: Java's \s is [ \t\n\x0B\f\r] while RE2's
  // (the oracle engine's) is [ \t\n\f\r] — a vertical tab would be
  // collapsed on one side only. The literal class means both engines
  // match the identical character set.
  private[graft] val WhitespaceRunPattern = "[ \\t\\n\\u000B\\f\\r]+"

  /** Entity decode order matters: `&amp;` LAST, so `&amp;lt;` renders
    * as the literal string "&lt;" (the HTML spec's double-escape).
    */
  private[graft] val HtmlEntities = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  def stripHtml(html: Column): Column = {
    // comments strip FIRST: a commented-out <script> opener
    // ("<!-- <script> -->" — IE conditional comments are routine)
    // would otherwise pair with a later REAL </script> and delete the
    // prose in between, and the orphaned "<!--" (no ">") survives the
    // tag pattern and leaks into the text
    val noComments = regexp_replace(html, HtmlCommentPattern, " ")
    val noBlocks = HtmlSubtreePatterns.foldLeft(noComments)(
      (c, p) => regexp_replace(c, p, " "))
    val noTags = regexp_replace(noBlocks, HtmlTagPattern, " ")
    val decoded = HtmlEntities.foldLeft(noTags) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, WhitespaceRunPattern, " "))
  }

  private def expr(c: Column) = org.apache.spark.sql.graft.Bridge.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graft.Bridge.column(e)

  /** Portable 64-bit content hash: the first 8 md5 digest bytes. md5
    * exists in every engine, so any oracle (here: DuckDB via
    * `('0x' || substr(md5(x),1,16))::UBIGINT`) reproduces the exact bit
    * pattern — unlike xxhash64, whose seed and implementation are
    * Spark-specific. Evaluated by the native [[Md5Long64]] expression
    * (tight bytes→long, ThreadLocal digest); [[md5Long64Composed]] is
    * the built-in-only reference form, cross-checked bit-for-bit in
    * tests. The bits land in a SIGNED long; comparisons that need
    * unsigned order should mask with [[md5Long63]].
    */
  def md5Long64(c: Column): Column = toCol(Md5Long64(expr(c)))

  /** Built-ins-only reference for [[md5Long64]] (hex + conv per half) —
    * kept for the bit-identity cross-check, not for hot paths.
    */
  def md5Long64Composed(c: Column): Column = {
    val hex = md5(c)
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** [[md5Long64]] masked to 63 bits: always non-negative, so signed
    * (Spark long) and unsigned (DuckDB UBIGINT) engines agree on
    * ordering — required for min/max-style fingerprints.
    */
  def md5Long63(c: Column): Column =
    md5Long64(c).bitwiseAND(lit(Long.MaxValue))

  /** Rolling document fingerprint: the min of a portable 64-bit hash
    * over character 16-grams — a winnowing-style signature that is
    * stable under small edits far from the minimizing window. Uses
    * [[md5Long63]] so the min is taken over non-negative values and the
    * DuckDB oracle's unsigned min agrees bit-for-bit.
    */
  def rollingMinFingerprint(text: Column): Column = {
    val n = 16
    val grams = transform(
      sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1))),
      i => md5Long63(substr(text, i, lit(n))))
    array_min(grams)
  }
}
