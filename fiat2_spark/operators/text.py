"""Text-analysis operators for training-data pipelines (engine surface
beyond the reference — SURVEY §7 Phase 4 north-star extensions).

Everything here is pure Catalyst expressions (split/transform/aggregate/
md5): no Python UDFs, so the operators stay inside whole-stage codegen
and scale linearly with no serialization cost — the property that
matters at 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from fiat2_spark.session import block_ids, release_blocks

# Minimal stopword sets per language for the n-gram/stopword heuristic
# language-ID. Deterministic and tiny by design (broadcastable as
# literals into the plan, not a lookup table).
STOPWORDS = {
    # ASCII-only by contract: the shared tokenizer splits on [^a-z0-9]+,
    # so accented forms (für, más, été) never survive tokenization —
    # including them would silently never match.
    "en": [
        "the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
        "with", "that", "it", "as", "was", "at", "by", "be", "this",
        "are", "from", "or", "not", "but", "have", "they", "you", "we",
        "his", "her",
    ],
    "es": [
        "el", "la", "de", "los", "las", "un", "una", "en", "y", "que",
        "es", "no", "por", "con", "para", "se", "su", "al", "lo", "como",
        "mas", "pero", "sus", "le", "ha", "si", "este", "esta", "son",
        "entre",
    ],
    "de": [
        "der", "die", "das", "und", "ein", "eine", "zu", "mit", "von",
        "ist", "den", "dem", "des", "nicht", "sich", "auf", "als",
        "auch", "es", "an", "werden", "aus", "er", "hat", "bei", "wie",
        "einer", "nach", "wird", "sind",
    ],
    "fr": [
        "le", "la", "les", "un", "une", "de", "des", "et", "en", "est",
        "que", "qui", "dans", "pour", "pas", "sur", "ne", "se", "ce",
        "il", "au", "aux", "par", "plus", "avec", "son", "ses", "mais",
        "nous", "vous",
    ],
    # round-4 widening to ~10 languages; every word below survives the
    # ASCII tokenizer (languages whose function words need diacritics —
    # e.g. Romanian și, Polish się — contribute only their genuinely
    # ASCII function words, or were passed over for ASCII-orthography
    # languages like Indonesian)
    "it": [
        "di", "che", "la", "il", "un", "una", "per", "con", "non",
        "del", "della", "sono", "come", "anche", "ma", "le", "si",
        "nel", "alla", "piu", "questo", "questa", "gli", "dei",
        "delle", "era", "essere", "ha", "hanno", "tra",
    ],
    "pt": [
        "de", "que", "nao", "uma", "para", "com", "por", "mais", "dos",
        "das", "como", "mas", "foi", "ele", "ela", "seu", "sua", "ou",
        "quando", "muito", "nos", "ja", "eu", "tambem", "pelo", "pela",
        "isso", "entre", "depois", "sem",
    ],
    "nl": [
        "de", "het", "een", "en", "van", "ik", "te", "dat", "die",
        "in", "is", "niet", "op", "aan", "met", "als", "voor", "er",
        "maar", "om", "hij", "dan", "zou", "of", "wat", "mijn", "men",
        "dit", "zo", "door",
    ],
    "sv": [
        "och", "det", "att", "i", "en", "jag", "hon", "som", "han",
        "den", "med", "var", "sig", "till", "men", "ett", "om", "hade",
        "de", "av", "mig", "du", "henne", "sin", "nu", "har", "inte",
        "hans", "honom", "skulle",
    ],
    "pl": [
        "nie", "na", "do", "to", "jest", "jak", "co", "tak", "ale",
        "po", "za", "od", "ma", "przez", "przy", "tego", "tym", "jego",
        "ich", "oraz", "dla", "czy", "gdy", "tylko", "bardzo", "ten",
        "ta", "te", "z", "w",
    ],
    "id": [
        "yang", "dan", "di", "ini", "itu", "dengan", "untuk", "tidak",
        "dari", "dalam", "akan", "pada", "juga", "saya", "ke", "karena",
        "tersebut", "bisa", "ada", "mereka", "lebih", "tahun", "sudah",
        "saat", "oleh", "menjadi", "orang", "ia", "telah", "kita",
    ],
}
LANGS = sorted(STOPWORDS)  # deterministic argmax order


def _trigram_profile(lang: str) -> list[str]:
    """Language profile = the sorted set of char trigrams of the
    language's space-padded stopwords (' the ' → ' th', 'the', 'he ').
    Deterministic, derived from the same public function-word lists as
    the stopword scorer — no external corpus, so both engines can carry
    the profile as literals. A Cavnar–Trenkle-style rank profile
    trained on real text would be more accurate; this binary-membership
    variant is the oracle-recomputable middle ground (accuracy note:
    good separation on function-word-rich prose, weak on short or
    technical strings — same contract as the stopword scorer)."""
    tris = set()
    for w in STOPWORDS[lang]:
        padded = f" {w} "
        for i in range(len(padded) - 2):
            tris.add(padded[i : i + 3])
    return sorted(tris)


TRIGRAM_PROFILES = {lang: _trigram_profile(lang) for lang in LANGS}


def tokens(text: Column) -> Column:
    """Whitespace/punctuation tokenizer: lowercase, split on non-alnum,
    drop empties. The shared primitive for every operator below."""
    raw = F.split(F.lower(text), "[^a-z0-9]+")
    return F.filter(raw, lambda t: t != "")


# Unicode-version case-mapping skew (found by the differential fuzz,
# pinned by the exhaustive BMP sweep in test_text_properties): the JVM
# and DuckDB's utf8proc implement different Unicode versions, so
# exactly these 14 BMP capitals (Latin Extended-D / Cyrillic /
# Glagolitic additions from Unicode 12-16, plus U+0130 İ) lowercase
# differently between the engines. `tokens_unicode` folds each to its
# single-codepoint lowercase BEFORE lower(), which (a) removes the
# engine divergence (after the fold no skewed capital survives to
# either engine's lower()) and (b) fixes İ, whose Java lowercase is
# 'i' + U+0307 COMBINING DOT ABOVE — a mark outside \p{L}\p{N} that
# would SPLIT the token ('İstanbul' → ['i', 'stanbul']); the fold's
# plain 'i' is what a tokenizer wants.
_CASE_SKEW = (
    (0x130, 0x69),     # İ → i (not Java's i + combining dot)
    (0x1C89, 0x1C8A),  # Cyrillic tje (Unicode 16)
    (0x2C2F, 0x2C5F),  # Glagolitic caudate chrivi (Unicode 14)
    (0xA7C0, 0xA7C1),  # Latin old polish o (Unicode 16)
    (0xA7C7, 0xA7C8),  # Latin d with short stroke overlay (Unicode 12)
    (0xA7C9, 0xA7CA),  # Latin s with short stroke overlay (Unicode 12)
    (0xA7CB, 0x264),   # Latin rams horn (Unicode 16)
    (0xA7CC, 0xA7CD),  # Latin s with diagonal stroke (Unicode 16)
    (0xA7D0, 0xA7D1),  # Latin closed insular g (Unicode 14)
    (0xA7D6, 0xA7D7),  # Latin middle scots s (Unicode 14)
    (0xA7D8, 0xA7D9),  # Latin sigmoid s (Unicode 14)
    (0xA7DA, 0xA7DB),  # Latin lambda (Unicode 16)
    (0xA7DC, 0x19B),   # Latin lambda with stroke (Unicode 16)
    (0xA7F5, 0xA7F6),  # Latin reversed half h (Unicode 13)
)
CASE_SKEW_SRC = "".join(chr(a) for a, _ in _CASE_SKEW)
CASE_SKEW_DST = "".join(chr(b) for _, b in _CASE_SKEW)


def tokens_unicode(text: Column) -> Column:
    """Unicode tokenizer: lowercase, split on any run of characters
    outside the Unicode letter/number classes (``[^\\p{L}\\p{N}]+``),
    drop empties — the multilingual twin of `tokens`, keeping accented
    and non-Latin words (für, été, привет) the ASCII contract would
    shred into fragments. Java regex and DuckDB's RE2 both implement
    the \\p{L}/\\p{N} general categories, and both engines' lower() is
    Unicode-aware, so the DuckDB oracle splits identically
    (differential-tested on crafted non-ASCII rows AND hypothesis-
    fuzzed over mixed-script text). BMP scope: BPE's per-character
    symbolize matches one UTF-16 code unit in Java, so
    supplementary-plane text (emoji) is outside the BPE contract.

    Sigma case-FOLDING: Java's toLowerCase applies the contextual
    final-sigma rule (word-final 'Σ' → 'ς') where DuckDB's utf8proc
    applies the simple mapping ('σ') — the first divergence the
    differential fuzz found. The tokenizer therefore folds
    'ς' → 'σ' after lowercasing (Unicode CASE FOLDING maps both sigma
    lowercase forms to 'σ'), which both removes the engine divergence
    and makes 'κόσμος'/'ΚΟΣΜΟΣ' tokenize identically — the behavior a
    retrieval/dedup tokenizer wants anyway.

    Unicode-VERSION skew: the fuzz's second find — 14 BMP capitals
    added in Unicode 12-16 (`CASE_SKEW_SRC`, e.g. 'Ꟈ' U+A7C7) lowercase
    under the JVM's newer table but not utf8proc's, and U+0130 İ
    lowercases to 'i'+combining-dot in Java (a token-SPLITTING mark)
    vs 'i' in DuckDB. A translate to their single-codepoint lowercase
    forms BEFORE lower() removes all 14 divergences on both engines;
    parity outside this set is verified EXHAUSTIVELY over the BMP
    (test_text_properties' sweep pins the skew set, so a JVM or DuckDB
    Unicode-table upgrade trips a test instead of an oracle).

    TOKENIZER CONTRACT (which operators accept which tokenizer):
    the ASCII ``[a-z0-9]+`` `tokens` contract is the corpus-wide
    DEFAULT. These operators that tokenize internally accept
    ``tokenizer=`` explicitly: `bpe_word_table` / `bpe_learn` /
    `bpe_encode`, `nb_*`, `lm_perplexity`/`perplexity_filter` and
    `gopher_rules`. `bpe_pair_counts`, `bpe_encode_ids`, `dsir_*`,
    `doremi_*` and `quality_score` tokenize with `tokens` only.
    Operators that take a TOKEN COLUMN (`lang_scores`,
    `stopword_ratio`, `token_count`, `repetition_stats`) compose with
    either tokenizer unchanged.
    Two residual English/Latin specifics survive a `tokens_unicode`
    corpus: the STOPWORDS lists are ASCII function words (langid and
    the stopword quality term score 0 on non-Latin scripts), and
    `gopher_rules`' alpha rule defaults to ``[a-z]`` (pass
    ``alpha_pattern=r"\\p{L}"`` alongside the tokenizer). Mixing
    tokenizers across a fit/score pair is a contract violation — pick
    one per pipeline (fit/score pairing asserted by the unicode
    curation queries' oracles).

    NO-SPACE SCRIPTS (the contract, pinned by crafted-row tests): on
    unsegmented Han/kana text this tokenizer returns one token PER RUN
    — '世界です' is a single token, so a whole CJK sentence becomes one
    giant shingle / one LM "word". That is the documented limitation,
    not a bug: splitting on non-letters cannot segment a script that
    writes without separators. For CJK-bearing corpora use
    `tokens_unicode_cjk`, which falls back to per-codepoint tokens
    inside fixed CJK ranges (the standard character-level treatment)
    and behaves exactly like this tokenizer elsewhere."""
    skew_folded = F.translate(text, CASE_SKEW_SRC, CASE_SKEW_DST)
    folded = F.replace(F.lower(skew_folded), F.lit("ς"), F.lit("σ"))
    raw = F.split(folded, r"[^\p{L}\p{N}]+")
    return F.filter(raw, lambda t: t != "")


#: Fixed BMP code-point ranges treated as "no-space script" by
#: `tokens_unicode_cjk`: CJK Unified Ideographs, Extension A, hiragana,
#: katakana. Explicit RANGES (not \p{Script=Han}) so Java regex and
#: DuckDB's RE2 agree independently of their Unicode table versions —
#: the same version-stability discipline as `SCRIPT_CLASSES` and the
#: `_CASE_SKEW` fold.
CJK_CLASS = (
    f"[{chr(0x4E00)}-{chr(0x9FFF)}"   # CJK Unified Ideographs
    f"{chr(0x3400)}-{chr(0x4DBF)}"    # Extension A
    f"{chr(0x3040)}-{chr(0x309F)}"    # hiragana
    f"{chr(0x30A0)}-{chr(0x30FF)}]"   # katakana
)


def tokens_unicode_cjk(text: Column) -> Column:
    """`tokens_unicode` with a no-space-script fallback: every
    character in the fixed `CJK_CLASS` ranges is padded with spaces
    BEFORE tokenization, so an unsegmented Han/kana run tokenizes to
    per-codepoint tokens — the standard character-level treatment for
    scripts that write without separators (real segmenters need
    dictionaries/models; character or character-n-gram units are what
    CCNet-class web pipelines actually ship for CJK). Outside those
    ranges the behavior is IDENTICAL to `tokens_unicode` (the padding
    regex matches nothing), so the fallback composes with every
    ``tokenizer=``-threaded operator unchanged. One extra codegen'd
    regexp_replace per row — still a pure map pass."""
    return tokens_unicode(F.regexp_replace(text, f"({CJK_CLASS})", " $1 "))


def token_count(toks: Column) -> Column:
    return F.size(toks)


def bpe_ish_count(toks: Column) -> Column:
    """BPE-ish subword estimate per token:
    ``max(1, ceil(len/4), vowel_groups)`` — the chars/4 rule of thumb,
    floored by the vowel-run (syllable) count so morpheme-dense words
    cost more pieces, the way a real BPE splits them. Deterministic and
    pure regex/arith, so the DuckDB oracle recomputes it exactly."""
    def pieces(t: Column) -> Column:
        # vowel runs: replace each run with one '#', count the '#'s as
        # (len after run-collapse) - (len after run-delete)
        collapsed = F.length(F.regexp_replace(t, "[aeiou]+", "#"))
        deleted = F.length(F.regexp_replace(t, "[aeiou]+", ""))
        return F.greatest(
            F.ceil(F.length(t) / 4.0), (collapsed - deleted).cast("long"), F.lit(1)
        ).cast("long")

    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + pieces(t),
    )


def stopword_ratio(toks: Column) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
        for lang in LANGS
    }


def lang_id(toks: Column) -> Column:
    """Argmax of stopword hits in fixed language order; 'und'
    (undetermined) when no stopword fires. Ties go to the first language
    in sorted order — deterministic by construction."""
    scores = lang_scores(toks)
    return argmax_label(F.array(*[scores[lang] for lang in LANGS]), LANGS)


def char_trigrams(text: Column) -> Column:
    """Char trigrams of the whitespace-normalized, space-padded lowercase
    text (' the cat ' → [' th','the','he ','e c',' ca','cat','at ']),
    with multiplicity. Built from three shifted slices of the char
    array zipped with concat — NOT ``transform(sequence(1, n-2), i ->
    substring(norm, i, 3))``: higher-order functions evaluate outside
    whole-stage codegen and re-evaluate captured outer expressions per
    ELEMENT, so the substring form recomputes the O(len) ``norm``
    concat for every trigram — O(len²) per document (measured: the
    dominant cost of the first trigram scorer). Slices reference
    ``norm`` a constant number of times per ROW; short strings fall out
    naturally (length-0 slices → empty zip)."""
    norm = F.concat(F.lit(" "), F.concat_ws(" ", tokens(text)), F.lit(" "))
    chars = F.split(norm, "")
    n = F.greatest(F.size(chars) - 2, F.lit(0))
    pair_suffix = F.zip_with(
        F.slice(chars, 2, n), F.slice(chars, 3, n), lambda b, c: F.concat(b, c)
    )
    return F.zip_with(
        F.slice(chars, 1, n), pair_suffix, lambda a, bc: F.concat(a, bc)
    )


def argmax_label(vec: Column, labels: list[str]) -> Column:
    """Deterministic argmax over a score vector aligned with ``labels``:
    'und' when every score is zero, the EARLIEST label in ``labels``
    order wins ties. ONE array_max over (score, -rank) structs —
    lexicographic struct comparison picks the max score and, among
    equals, the largest -rank = smallest rank. ``vec`` is embedded
    twice (array_max result read for both fields); crucially NOT once
    per label — a when-chain fold that threads a running best
    references it twice per label, doubling the Catalyst tree each
    step (~2^|labels| subtrees: at 10 languages Catalyst ground for
    minutes before any task ran)."""
    idx = F.sequence(F.lit(0), F.lit(len(labels) - 1))
    entries = F.zip_with(
        vec, idx, lambda s, i: F.struct(s.alias("s"), (-i).alias("r"))
    )
    m = F.array_max(entries)
    names = F.array(*[F.lit(lab) for lab in labels])
    return F.when(m["s"] == 0, F.lit("und")).otherwise(
        F.element_at(names, (-m["r"] + 1).cast("int"))
    )


#: Script classes for `script_id`, as (label, regex char class) in
#: PRIORITY order (ties go to the earlier entry). Fixed BMP code-point
#: RANGES, not \p{Script=...} properties: explicit ranges are identical
#: across Java regex and DuckDB's RE2 and across Unicode table versions
#: (the \p{Script} assignments gained codepoints in recent Unicode
#: releases — the same version-skew family the tokenizer's _CASE_SKEW
#: fold pins). latin covers unaccented ASCII letters; latin_ext the
#: accented Latin-1/Extended-A/B letters. Symbol/punctuation codepoints
#: inside a letter block are carved out consistently: U+00D7/U+00F7
#: (multiplication/division signs) from latin_ext, and from the Greek
#: block U+0374/U+0375 (numeral signs), U+037E (Greek question mark),
#: U+0384/U+0385 (tonos marks), U+0387 (ano teleia) — so a document
#: quoting Greek PUNCTUATION is not voted toward 'greek' on characters
#: that are not letters.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "[a-zA-Z]"),
    ("cyrillic", f"[{chr(0x0400)}-{chr(0x04FF)}]"),
    (
        "greek",
        f"[{chr(0x0370)}-{chr(0x0373)}{chr(0x0376)}-{chr(0x037D)}"
        f"{chr(0x037F)}-{chr(0x0383)}{chr(0x0386)}{chr(0x0388)}-{chr(0x03FF)}]",
    ),
    (
        "latin_ext",
        f"[{chr(0xC0)}-{chr(0xD6)}{chr(0xD8)}-{chr(0xF6)}{chr(0xF8)}-{chr(0x24F)}]",
    ),
)


def script_counts(text: Column) -> Column:
    """Per-script character counts over `SCRIPT_CLASSES`, as a vector
    aligned with its order: count = len(text) − len(text with the class
    deleted) — the `punct_ratio` counting trick, one codegen'd
    regexp_replace per class, no explode. BMP scope (both engines count
    BMP chars identically); supplementary-plane text lands in no class."""
    n = F.length(text)
    return F.array(
        *[
            (n - F.length(F.regexp_replace(text, cls, ""))).cast("int")
            for _, cls in SCRIPT_CLASSES
        ]
    )


def script_id(text: Column) -> Column:
    """Writing-script ID by character-class majority — the first stage
    of any real multilingual pipeline (CLD/fastText-style cascades
    gate language models per script before touching content): argmax
    of `script_counts` with `argmax_label`'s deterministic tie rule,
    'und' when no classified letter occurs. A pure map pass (a few
    regexp_replace + length per row), so it scales as a scan."""
    return argmax_label(script_counts(text), [lab for lab, _ in SCRIPT_CLASSES])


def stopword_scores_table(df, toks: Column, keys: list[str], table: dict[str, list[str]]):
    """Relational membership-vote scorer over an arbitrary
    {label: [words]} table — the table-scale path for stopword lists
    and, with ``toks`` = `char_trigrams` and ``table`` =
    `TRIGRAM_PROFILES`, for trigram profiles: explode the documents'
    tokens, broadcast-join the word → membership-vector relation
    (|distinct words| rows, shipped once per executor — never a
    per-task codegen literal), and partial-aggregate per-label hit
    sums back to one row per document. Explode preserves
    partitioning, so the map-side combine collapses each document's
    tokens within its partition and the one exchange carries
    |docs| × |labels| ints. ``explode_outer`` keeps token-less
    documents (they score all-zero → 'und' downstream). Returns
    ``keys`` + ``__sv`` (the sorted-label score vector for
    `argmax_label(…, sorted(table))`; agreement-tested against a
    Python stopword-count model)."""
    labels = sorted(table)
    member: dict[str, list[int]] = {}
    for i, k in enumerate(labels):
        for w in table[k]:
            member.setdefault(w, [0] * len(labels))[i] = 1
    spark = df.sparkSession
    prof = spark.createDataFrame(
        [(w, *member[w]) for w in sorted(member)],
        "w string, " + ", ".join(f"b_{i} int" for i in range(len(labels))),
    )
    ex = df.select(*keys, F.explode_outer(toks).alias("w"))
    agg = ex.join(F.broadcast(prof), "w", "left").groupBy(*keys).agg(
        *[
            F.coalesce(F.sum(f"b_{i}"), F.lit(0)).cast("int").alias(f"__s_{i}")
            for i in range(len(labels))
        ]
    )
    return agg.select(
        *keys,
        F.array(*[F.col(f"__s_{i}") for i in range(len(labels))]).alias("__sv"),
    )


def translit_words(words: list[str], src: str, dst: str) -> list[str]:
    """Per-character transliteration of a word list (src[i] → dst[i]),
    the driver-side mirror of a `translate`-derived corpus: the image
    of a stopword list under the same map the corpus text went through,
    so stopword matching survives transliteration exactly."""
    m = str.maketrans(src, dst)
    return [w.translate(m) for w in words]


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array (empty array when the
    document has fewer than ``n`` tokens). Pure expression — stays in
    whole-stage codegen."""
    if n == 1:
        return toks
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + k) for k in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(df, toks_col: str, id_col: str):
    """Gopher-style repetition/diversity signals per document (Rae et
    al. 2021, "Scaling Language Models", App. A quality filters —
    adapted to single-line documents: token-level, not line-level):

    * ``ttr`` — type-token ratio (distinct/total tokens),
    * ``top_bigram_frac`` — occurrences of the most frequent bigram
      over all bigram occurrences,
    * ``dup_trigram_frac`` — fraction of trigram occurrences whose
      trigram appears more than once,
    * ``unigram_entropy`` — Shannon entropy of the unigram
      distribution, via H = ln N − (Σ c·ln c)/N.

    Plan: ONE tagged explode (n ∈ {1,2,3} unioned in-row before the
    generator) → two-level partial aggregation keyed by (doc, n, gram)
    then (doc, n) → conditional-aggregation pivot back to one row per
    document. Two shuffles total, both keyed by document — n-gram
    counting never materializes a per-document map in one row, so a
    pathological 10M-token document costs O(tokens) across its
    partition, not O(tokens²) in a higher-order-function scan. At 100
    TB this is the same embarrassingly-parallel explode→partial-agg
    shape as ``stopword_scores_table``; map-side combine collapses each
    document's grams before the exchange. All-double outputs rounded to
    6dp on both engines for the str-render gate."""
    toks = F.col(toks_col)

    def _tag(n):
        # NB: a 2-arg transform lambda would make the 2nd arg the element
        # INDEX — close over the gram size with a factory instead.
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    tagged = F.concat(
        *[F.transform(word_ngrams(toks, n), _tag(n)) for n in (1, 2, 3)]
    )
    ttr = df.select(
        id_col,
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double"),
            6,
        ).alias("ttr"),
    )
    grams = df.select(id_col, F.explode(tagged).alias("ng")).select(
        id_col, F.col("ng.n").alias("n"), F.col("ng.g").alias("g")
    )
    cnt = grams.groupBy(id_col, "n", "g").count()
    per = cnt.groupBy(id_col, "n").agg(
        (F.max("count").cast("double") / F.sum("count")).alias("top_frac"),
        (
            F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0)).cast(
                "double"
            )
            / F.sum("count")
        ).alias("dup_frac"),
        (
            F.log(F.sum("count").cast("double"))
            - F.sum(F.col("count").cast("double") * F.log(F.col("count").cast("double")))
            / F.sum("count")
        ).alias("ent"),
    )
    pivoted = per.groupBy(id_col).agg(
        F.round(
            F.coalesce(F.max(F.when(F.col("n") == 2, F.col("top_frac"))), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(F.max(F.when(F.col("n") == 3, F.col("dup_frac"))), F.lit(0.0)), 6
        ).alias("dup_trigram_frac"),
        F.round(
            F.coalesce(F.max(F.when(F.col("n") == 1, F.col("ent"))), F.lit(0.0)), 6
        ).alias("unigram_entropy"),
    )
    return ttr.join(pivoted, id_col, "left").select(
        id_col,
        "ttr",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        F.coalesce("unigram_entropy", F.lit(0.0)).alias("unigram_entropy"),
    )


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric, non-space character ratio."""
    total = F.greatest(F.length(text), F.lit(1))
    clean = F.length(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    return (total - clean).cast("double") / total.cast("double")


def mean_token_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1] over the ASCII `tokens`:
    length band + English stopword presence + low punctuation + sane
    word lengths. Weights fixed; deterministic arithmetic only."""
    t = tokens(text)
    len_term = F.least(F.size(t).cast("double") / 50.0, F.lit(1.0))
    sw_term = F.least(stopword_ratio(t) * 5.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    mlen = mean_token_len(t)
    len_band = F.when((mlen >= 3.0) & (mlen <= 8.0), 1.0).otherwise(0.5)
    return F.round(0.3 * len_term + 0.3 * sw_term + 0.2 * punct_term + 0.2 * len_band, 6)


def fingerprint_md5(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text (its ASCII `tokens`) — the exact-dedup key."""
    return F.md5(F.concat_ws(" ", tokens(text)))


def rolling_hash(toks: Column) -> Column:
    """Polynomial rolling hash over the token stream (order-sensitive
    fingerprint): h = (h*31 + len(tok)*7 + ascii(tok[0])) mod 1e9+7.
    A sequential left fold — order dependence is the point."""
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda h, t: (h * 31 + F.length(t) * 7 + F.ascii(t)) % 1_000_000_007,
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (kind, pattern, replacement) applied IN ORDER — emails first so their
# digit/dot substrings can never be re-matched by the looser ip/number
# rules. Patterns restrict to constructs whose semantics are identical
# in Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, and \b word boundaries — no backrefs or lookaround.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("number", r"\b\d{7,}\b", "<NUM>"),
)


def redact_pii(text: Column) -> tuple[Column, dict[str, Column]]:
    """Rule-based PII scrubbing — the pre-training redaction pass every
    public pipeline runs (emails, IPv4 addresses, long digit runs such
    as phone/account numbers). Returns ``(redacted_text, counts)`` where
    ``counts[kind]`` is the number of spans masked by that rule.

    Each rule's count is taken from the text AS ALREADY REDACTED by the
    preceding rules, so overlapping spans are attributed to exactly one
    rule and the counts sum to the number of masked spans. Pure
    ``regexp_extract_all`` / ``regexp_replace`` — JVM-side, codegen'd,
    no UDF; at 100 TB this is a map-only pass that pushes nothing to a
    shuffle."""
    counts: dict[str, Column] = {}
    cur = text
    for kind, pat, rep in PII_RULES:
        counts[kind] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, rep)
    return cur, counts


def token_segments(toks: Column, seg_len: int) -> Column:
    """Split a token array into consecutive fixed-width segments
    (the last may be shorter): returns array<struct<seg_idx int,
    seg array<string>>>. Guarded so empty docs yield an empty array
    (``sequence(0, -1)`` would count DOWN, not produce an empty list).

    Pass ``toks`` as a projected COLUMN, not an embedded tokens(...)
    expression: the slice runs inside a transform lambda, where an
    embedded expression re-evaluates per SEGMENT (interpreted HOFs get
    no subexpression caching) — with tokens() that is a quadratic
    re-tokenize, measured 4.6× on the segment stage (see
    dedup.doc_segments / dedup.boilerplate_remove)."""
    n_segs = F.ceil(F.size(toks) / float(seg_len)).cast("int")
    idxs = F.when(n_segs > 0, F.sequence(F.lit(0), n_segs - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idxs,
        lambda i: F.struct(
            i.alias("seg_idx"),
            F.slice(toks, i * seg_len + 1, seg_len).alias("seg"),
        ),
    )


def sliding_chunks(toks: Column, width: int, stride: int) -> Column:
    """Overlapping sliding windows over the token stream — the RAG /
    context-window chunker: starts at 0, stride, 2·stride, … while the
    start is inside the document, each chunk covering ``width`` tokens
    (the final chunks are truncated at the document end). Returns
    array<struct<chunk_idx int, chunk array<string>>>; empty docs yield
    no chunks."""
    n = F.size(toks)
    n_chunks = F.ceil(n / float(stride)).cast("int")
    idxs = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idxs,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, i * stride + 1, width).alias("chunk"),
        ),
    )


def ngram_strings(toks: Column) -> Column:
    """DSIR's n-gram feature STRINGS (Xie et al. 2023,
    arXiv:2302.03169 §3): unigrams ∪ bigrams, one entry per feature
    OCCURRENCE (DSIR's bag-of-ngrams counts). Returns array<string>.
    Deliberately does NOT hash here: Spark executes lambda-HOF bodies
    interpreted per element, so the md5 belongs AFTER the explode as a
    top-level projected expression (`feature_bucket`) where Tungsten
    codegen runs it — the HOF is left with only cheap string concats."""
    # zip_with over two shifted slices: the slice arguments evaluate
    # ONCE per row, so the lambda body is a cheap per-element concat.
    # The previous form (transform + element_at(toks, i)) re-evaluated
    # the embedded toks EXPRESSION per element_at — when callers pass
    # tokens(col), that re-ran the regex split per element (quadratic
    # in doc length, and interpreted): the lm_perplexity transitions
    # rewrite measured the identical pattern at 7.3 s → 0.68 s sf0.1.
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def feature_bucket(feat: Column, buckets: int) -> Column:
    """md5-bucket a feature string into [0, buckets): the first 8 hex
    chars of md5 parsed as an integer — the construction every
    md5-derived signature in this repo uses, so a DuckDB oracle
    recomputes identical buckets. Applied as a top-level projection
    (post-explode) this is whole-stage-codegen'd; the identical math
    inside a `transform` HOF executes interpreted per element."""
    return F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long") % buckets


# Every log-ratio and LM cost below is quantized to integer units of
# 1/QUANT nat, so per-document scores are exact BIGINT sums.
QUANT = 10_000


def _bucket_log_ratio(n_a: str, tot_a: str, n_b: str, tot_b: str, buckets: int) -> Column:
    """Add-1 smoothed per-bucket log-ratio of corpus A over corpus B,
    quantized to BIGINT:

        round(ln((n_a+1)·(tot_b+B) / ((n_b+1)·(tot_a+B)))·QUANT)

    with a NULL bucket count read as 0 (a bucket one corpus never
    hit). The single ln is the only float op, immediately quantized;
    its argument is an exact-integer ratio both engines compute
    bit-identically. DSIR's importance weight and naive Bayes' class
    weight are both this ratio."""
    return (
        F.round(
            F.log(
                ((F.coalesce(n_a, F.lit(0)) + 1) * (F.col(tot_b) + buckets)).cast("double")
                / ((F.coalesce(n_b, F.lit(0)) + 1) * (F.col(tot_a) + buckets)).cast("double")
            )
            * QUANT
        )
        .cast("long")
    )


def _hashed_features(df, id_col: str, text_col: str, buckets: int, extra=(),
                     tokenizer=tokens, outer=False):
    """One featurize pass: hashed unigram+bigram buckets per doc,
    (doc, *extra, bucket). The pass is CPU-bound, so the (often
    single-row-group) scan is first spread across right-sized
    partitions (`dedup.cpu_partitions`); the md5 bucketing runs
    post-explode as a codegen'd projection; the result is
    localCheckpointed because every consumer (counts, totals, scoring)
    would otherwise re-run the pass. DSIR's two corpora and the
    classifier's training and scoring sides all featurize here, so they
    realize the identical feature map. The checkpoint blocks belong to
    the returned result and are reclaimed by the session owner's global
    sweep.

    ``outer`` (r12, scoring side only): keep zero-feature docs as one
    (doc, NULL-bucket) placeholder row via ``explode_outer``, so the
    every-doc bias contract rides the featurize pass itself instead of
    a corpus-keyed join-back (the `lm_perplexity` rewrite). NEVER set
    it on a TRAINING corpus — a placeholder row would enter the
    per-bucket counts as a NULL bucket and change the model."""
    from fiat2_spark.operators.dedup import cpu_partitions

    ex = F.explode_outer if outer else F.explode
    out = (
        df.repartition(cpu_partitions(df))
        .select(
            F.col(id_col).alias("doc"),
            *[F.col(c) for c in extra],
            ex(ngram_strings(tokenizer(F.col(text_col)))).alias("feat"),
        )
        .select(
            "doc",
            *extra,
            feature_bucket(F.col("feat"), buckets).alias("bucket"),
        )
    )
    return out.localCheckpoint()


def dsir_scores(raw, target, id_col: str, text_col: str, buckets: int = 256):
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): score each raw-pool document by how much its hashed n-gram
    distribution looks like the TARGET corpus, and keep the top k.
    Per-bucket importance log-ratio (add-1 smoothed):

        lr[b] = round(ln((n_t[b]+1)·(N_r+B) / ((n_r[b]+1)·(N_t+B)))·QUANT)

    quantized to an exact BIGINT (`_bucket_log_ratio`) so the per-doc
    score Σ_features lr[b] is pure integer arithmetic. Returns (id,
    score) for EVERY raw-pool document; top-k selection lives in
    `dsir_importance`.

    Scale: the feature explode is ONE checkpointed pass per corpus
    (`_hashed_features`). The md5 bucketing runs AFTER the explode as
    a codegen'd top-level projection (`feature_bucket`) — the HOF
    emits only the n-gram strings, so the hot hash loop is Tungsten,
    not interpreted. The lr table is ≤B rows (broadcast); the totals are 1-row
    aggregates (broadcast); scoring is a broadcast join + per-doc sum;
    top-k is TakeOrderedAndProject — no global sort, no all-pairs
    anything. Both corpora featurize through the ASCII `tokens`."""
    tb = _hashed_features(target, id_col, text_col, buckets)
    rb = _hashed_features(raw, id_col, text_col, buckets)
    tc = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_t"))
    rc = rb.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_r"))
    tot = tb.agg(F.count(F.lit(1)).alias("tot_t")).crossJoin(
        rb.agg(F.count(F.lit(1)).alias("tot_r"))
    )
    lr = (
        tc.join(rc, "bucket", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            _bucket_log_ratio("n_t", "tot_t", "n_r", "tot_r", buckets).alias("lr"),
        )
    )
    scored = (
        rb.join(F.broadcast(lr), "bucket")
        .groupBy("doc")
        .agg(F.sum("lr").alias("score"))
    )
    return scored.select(F.col("doc").alias(id_col), "score")


def dsir_importance(
    raw, target, id_col: str, text_col: str, buckets: int = 256, k: int = 100,
):
    """Top-k selection by raw DSIR importance score (`dsir_scores`) —
    ties on doc id; TakeOrderedAndProject, no global sort."""
    return (
        dsir_scores(raw, target, id_col, text_col, buckets)
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def dsir_resample(raw, target, id_col: str, text_col: str):
    """DSIR's actual RESAMPLING step (Xie et al. 2023 §3): draw 64
    documents with probability ∝ exp(score/T), T=1, WITHOUT replacement via
    the Gumbel top-k trick — key = score/T + Gumbel(0,1), keep the k
    largest keys, over `dsir_scores` with 256 buckets. The Gumbel noise is deterministic and
    engine-portable: u = (52 salted-md5 bits + 1)/(2⁵²+1), g =
    −ln(−ln u) (no RNG state — the Efraimidis–Spirakis discipline
    `sample_weighted` established). The +1 denominator keeps u in the
    OPEN interval (0,1): an all-f 52-bit prefix would otherwise make
    u exactly 1.0 and −ln(−ln 1) a NULL-vs-error engine divergence.
    Keys round to 6 decimals so a last-ulp libm-ln difference cannot
    reorder near-equal keys; doc id breaks ties. Top-k is
    TakeOrderedAndProject — the exchange never carries the pool."""
    scores = dsir_scores(raw, target, id_col, text_col)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir#"), F.col(id_col).cast("string"))), 1, 13
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float((1 << 52) + 1))
    key = F.round(
        F.col("score").cast("double") / F.lit(float(QUANT)) - F.log(-F.log(u)),
        6,
    )
    return (
        scores.withColumn("gkey", key)
        .orderBy(F.desc("gkey"), id_col)
        .limit(64)
    )


# the out-of-vocabulary token of every LM vocab
UNK = "<unk>"


def _vocab_mapped(df, col: str, vocab):
    """Replace ``col`` with its vocab-mapped value: itself if in the
    broadcast vocab relation, else the UNK token — CCNet's
    closed-vocabulary step that bounds every LM table by the vocab, not
    the corpus."""
    probe = vocab.select(F.col("w").alias(f"__v_{col}"))
    return (
        df.join(F.broadcast(probe), df[col] == F.col(f"__v_{col}"), "left")
        .withColumn(col, F.coalesce(F.col(f"__v_{col}"), F.lit(UNK)))
        .drop(f"__v_{col}")
    )


def _gram_cols(n: int) -> list[str]:
    """Column names of an n-gram row, oldest context first:
    (p{n-1}, …, p1, w) — a level-k table keys on the LAST k of an
    order-n row's columns, so every backoff probe is a plain USING
    join."""
    return [f"p{i}" for i in range(n - 1, 0, -1)] + ["w"]


def _grams(df, n: int, key: list[str], text_col: str, tokenizer,
           outer: bool = False):
    """(key…, p{n-1}, …, p1, w): one row per run of n consecutive
    tokens, via arrays_zip over n shifted slices — ALL native
    expressions. The lambda-HOF form (transform + element_at) evaluated
    interpreted per element AND re-ran the embedded tokenizer regex
    split per element_at (no common-subexpression elimination inside
    HOF lambdas): measured 7.3 s → 0.68 s at sf0.1 on the raw corpus,
    same rows. ``outer``: keep a doc with < n tokens as one all-NULL
    placeholder row (explode_outer of the NULL array), so every doc
    reaches a per-key aggregate without a join-back."""
    t = tokenizer(F.col(text_col))
    sz = F.size(t)
    width = sz - (n - 1)
    zipped = F.when(
        sz >= n, F.arrays_zip(*[F.slice(t, i + 1, width) for i in range(n)])
    )
    ex = F.explode_outer(zipped) if outer else F.explode(zipped)
    return df.select(*key, ex.alias("g")).select(
        *key, *[F.col("g")[str(i)].alias(c) for i, c in enumerate(_gram_cols(n))]
    )


def lm_fit(ref, text_col: str, order: int = 2, vocab_size: int = 1024, tokenizer=tokens):
    """Fit an order-n n-gram LM with stupid backoff (Brants et al.
    2007, "Large Language Models in Machine Translation" §4 — the
    distributed web-scale LM recipe: relative frequencies, no
    normalization, a fixed backoff penalty α per level) on the REF
    corpus. Returns (vocab, tables, checkpoints): ``tables[k-1]`` is
    level k's cost table keyed by the last k `_gram_cols`, cost column
    ``q{k}``; ``checkpoints`` are the fit's localCheckpoint frames, which
    ``vocab`` and ``tables`` read. A caller that has materialized all it
    reads from the fit retires them with
    ``release_blocks(spark, block_ids(*checkpoints))``.

    Model (everything integer until a single ln per TABLE row, the
    `dsir_scores` lr discipline — never a float op per token):
      vocab  = top ``vocab_size`` ref unigrams by (count desc, word);
               every other token maps to UNK
      level k ≥ 2, seen k-gram:  S = α^(n−k) · c_k / c_{k−1}(context)
      level 1 (any word):        S = α^(n−1) · (c1(w)+1) / (N + V + 1)
      α = 2/5; add-1 on the vocab-closed unigram keeps
      S > 0; context counts are the plain (k−1)-gram counts — stupid
      backoff is deliberately unnormalized, so the document-edge count
      mismatch the paper accepts is accepted here too.
      cost q_k = round(−ln S · QUANT), exact BIGINT: 2^(n−k)·c_k and
      5^(n−k)·c_{k−1} are formed in integers and each cast to double
      once, so every ln argument is an exact-integer ratio both engines
      form bit-identically.
    The bigram (n=2) is seen-bigram, else α·unigram; the trigram adds
    the seen-trigram level on top. ``tables[0]`` also carries ``q_uni``,
    the same unigram cost at α⁰ — the context-free add-1 baseline
    DoReMi's excess loss is measured against.

    Scale: the tables are MODEL-sized — ≤ V+1 unigrams, ≤ observed
    vocab-closed k-grams — and broadcast at scoring; fitting is one
    unigram pass (feeding vocab, c1 and N) plus one explode+count pass
    per order over the ref corpus, each map-side partial. Eager jobs:
    the unigram pass and vocab are materialized (blocks, not a
    CacheManager pin — the minhash-shingle discipline), and so is each
    c_k with 2 ≤ k < n, which feeds two tables. At Brants-scale corpora
    where a k-gram table outgrows a broadcast, the paper's answer is
    sharding the probe by n-gram hash — here that is the same equi-join
    without the broadcast hint, which AQE picks automatically when the
    build side stops fitting.

    ``tokenizer``: fit/score pairing contract (see `tokens_unicode`):
    fit and score through the one tokenizer (OOV→unk keeps the vocab
    closed under either)."""
    spark = ref.sparkSession

    def cost(num, den, e: int):
        return F.round(
            -F.log(
                (num * 2**e).cast("double")
                / (den * 5**e).cast("double")
            )
            * QUANT
        ).cast("long")

    ref_uni = ref.select(
        F.explode(tokenizer(F.col(text_col))).alias("w")
    ).localCheckpoint()
    vocab = (
        ref_uni.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w").limit(vocab_size)
        .select("w").localCheckpoint()
    )
    tot = ref_uni.agg(F.count(F.lit(1)).alias("n_tot"))
    counts = [
        _vocab_mapped(ref_uni, "w", vocab)
        .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ]
    for k in range(2, order + 1):
        g = _grams(ref, k, [], text_col, tokenizer)
        for c in _gram_cols(k):
            g = _vocab_mapped(g, c, vocab)
        ck = g.groupBy(*_gram_cols(k)).agg(F.count(F.lit(1)).alias("n"))
        counts.append(ck.localCheckpoint() if k < order else ck)
    checkpoints = (ref_uni, vocab, *counts[1:order - 1])
    dom = vocab.unionByName(spark.createDataFrame([(UNK,)], "w string"))
    add1 = F.coalesce("n", F.lit(0)) + 1
    denom = F.col("n_tot") + vocab_size + 1
    tables = [
        dom.join(counts[0], "w", "left")
        .crossJoin(F.broadcast(tot))
        .select("w", cost(add1, denom, order - 1).alias("q1"),
                cost(add1, denom, 0).alias("q_uni"))
    ]
    for k in range(2, order + 1):
        cols = _gram_cols(k)
        ctx = counts[k - 2].select(
            *[F.col(a).alias(b) for a, b in zip(_gram_cols(k - 1), cols[:-1])],
            F.col("n").alias("n_ctx"),
        )
        tables.append(
            counts[k - 1].join(ctx, cols[:-1])
            .select(*cols, cost(F.col("n"), F.col("n_ctx"), order - k).alias(f"q{k}"))
        )
    return vocab, tables, checkpoints


def lm_perplexity(
    raw, ref, id_col: str, text_col: str,
    vocab_size: int = 1024, tokenizer=tokens, order: int = 2,
):
    """CCNet-style n-gram LM scoring (Wenzek et al. 2019,
    arXiv:1911.00359 §4.3 "LM filtering"): score every RAW document by
    its total negative log-likelihood under the order-n stupid-backoff
    LM `lm_fit` builds on the REF corpus (bigram by default;
    ``order=3`` is the full trigram→bigram→unigram chain) — the
    literature's quality-selection axis next to DSIR's
    importance-vs-target (`dsir_scores`): DSIR asks "does this look
    like the target?", perplexity asks "is this fluent under a
    reference LM?" (CCNet, LLaMA, and RedPajama all gate on it). Each
    scored transition pays the deepest level whose k-gram was seen.

    Returns (id, n_trans, nll_q) for EVERY raw document: n_trans =
    max(len(toks)−(n−1), 0) scored transitions, nll_q = Σ q as BIGINT
    (mean NLL in nats = nll_q / (QUANT·n_trans)). Docs with < n tokens
    score (0, 0).

    Scale: one explode + n broadcast probes + a per-doc
    partial-aggregated sum over the raw corpus. No window, no global
    sort, no corpus-keyed shuffle except the final per-doc agg. The
    every-doc contract rides the scoring explode itself via
    ``explode_outer`` — short docs keep a placeholder row excluded from
    the sums by a flag captured BEFORE vocab mapping (which would
    otherwise rewrite the placeholder's NULLs to unk and score them) —
    instead of a ``raw.select(doc).distinct()`` + left-join-back, which
    would cost a second corpus-keyed shuffle plus a corpus-sized
    sort-merge join.

    ``tokenizer``: the ref LM is FIT and the raw corpus SCORED through
    the one tokenizer passed here (see `lm_fit`)."""
    vocab, tables, _ = lm_fit(ref, text_col, order, vocab_size, tokenizer)
    rt = _grams(raw, order, [id_col], text_col, tokenizer, outer=True).withColumn(
        "__real", F.col("w").isNotNull()
    )
    for c in _gram_cols(order):
        rt = _vocab_mapped(rt, c, vocab)
    for k in range(order, 0, -1):
        rt = rt.join(F.broadcast(tables[k - 1]), _gram_cols(k), "left")
    real = F.col("__real")
    q = F.coalesce(*[f"q{k}" for k in range(order, 0, -1)])
    return rt.groupBy(id_col).agg(
        F.sum(F.when(real, 1).otherwise(0)).cast("long").alias("n_trans"),
        F.sum(F.when(real, q).otherwise(0)).cast("long").alias("nll_q"),
    )


def perplexity_filter(
    raw, ref, id_col: str, text_col: str, threshold_q: int,
    vocab_size: int = 1024, tokenizer=tokens,
):
    """CCNet's LM quality gate: keep a document iff its MEAN per-token
    NLL under the ref-fit bigram LM (`lm_fit`) is at most
    threshold_q/10⁴ nats — evaluated as the exact integer comparison
    ``nll_q ≤ threshold_q · n_trans`` (no float division, so the
    decision is engine-bitwise). Docs with no transitions keep
    trivially (0 ≤ 0 — nothing to judge them on; CCNet routes such
    fragments to its "middle" bucket, a threshold policy knob).
    Returns (id, n_trans, nll_q, keep)."""
    s = lm_perplexity(raw, ref, id_col, text_col, vocab_size, tokenizer=tokenizer)
    return s.withColumn(
        "keep", F.col("nll_q") <= F.lit(threshold_q) * F.col("n_trans")
    )


def ccnet_buckets(raw, ref, id_col: str, text_col: str, lang_col: str):
    """CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    2019, arXiv:1911.00359 §4.3): rank every document by its mean
    per-transition NLL under the ref-fit LM (`lm_perplexity`) WITHIN
    its language, and cut each language's ranking into thirds — head =
    the most-fluent third (CCNet keeps it outright), middle, tail.
    This is what the paper actually ships: per-language terciles, not
    a global threshold, so low-resource languages aren't judged by the
    high-resource languages' perplexity range.

    Exactness discipline: the ranking key is the integer
    mq = (nll_q · 10⁶) div n_trans (BIGINT division — never a
    float mean whose last ulp could reorder near-ties), ties break on
    doc id, and the tercile cuts are integer cross-multiplications
    (3·rn ≤ n, 3·rn ≤ 2n) — rank-based, so both engines agree bitwise
    even when a language's scores bunch. Documents with no scorable
    transition (< 2 tokens) are excluded — nothing to judge them on
    (the `perplexity_filter` policy knob, mirrored by the oracle).

    Scale: `lm_perplexity`'s plan (model-sized broadcasts, one corpus
    explode, per-doc partial agg) + a per-language ranking through
    `grouped_row_number`'s quantile-bucket scheme — languages are
    LOW-cardinality, exactly the regime where the plain
    lang-partitioned window would plan |langs| tasks on a
    1000-executor cluster. Returns (id, lang, mq, bucket)."""
    from fiat2_spark.operators.relational import grouped_row_number

    s = lm_perplexity(raw, ref, id_col, text_col).filter(F.col("n_trans") > 0)
    # checkpoint the scored relation (batch block contract): three
    # consumers read it — the ranking's quantile sketch (an ACTION),
    # the ranking itself, and the per-language totals — and each would
    # otherwise re-run the whole corpus scoring pass (measured 4.5 s →
    # 3.0 s at sf0.1)
    scored = (
        s.join(raw.select(id_col, lang_col), id_col)
        .withColumn(
            "mq",
            F.expr("(nll_q * CAST(1000000 AS BIGINT)) div n_trans"),
        )
        .localCheckpoint()
    )
    rn = grouped_row_number(
        scored, [lang_col], "mq", id_name="__rn",
        tiebreak=[F.col(id_col)],
    )
    # language totals come from the PRE-ranking relation — identical
    # counts, and the ranking window is never evaluated twice for them
    n_lang = scored.groupBy(lang_col).agg(F.count(F.lit(1)).alias("__n"))
    return (
        rn.join(F.broadcast(n_lang), lang_col)
        .select(
            F.col(id_col),
            F.col(lang_col),
            "mq",
            F.when(3 * F.col("__rn") <= F.col("__n"), F.lit("head"))
            .when(3 * F.col("__rn") <= 2 * F.col("__n"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


# The 8 "must contain 2 of" stop words from Gopher's quality table
# (Rae et al. 2021, arXiv:2112.11446 Table A1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    tokenizer=tokens,
    alpha_pattern: str = "[a-z]",
):
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Table
    A1) — the literature's named heuristic rule set (reused verbatim by
    RedPajama/FineWeb), distinct from the composite `quality_score`:
    each rule is a separate boolean column so a pipeline can bucket or
    ablate per rule, and `keep` is their conjunction.

      r_word_count : min_words ≤ #words ≤ 100,000
      r_mean_len   : mean word length in [3, 10]
      r_symbol     : (#'#' + #'...') / #words < 0.1
      r_bullet     : < 90% of lines start with a bullet
      r_ellipsis   : < 30% of lines end with '...'
      r_alpha      : > 80% of words contain an alphabetic char
      r_stopword   : ≥ 2 distinct Gopher stop words present

    Every ratio is evaluated as an exact integer cross-multiplication
    (10·sym < n, 10·bullets < 9·lines, …) so the decision is
    engine-bitwise — the repo's no-float-compare discipline. All
    expressions are top-level or linear per-token/per-line lambdas over
    PRE-PROJECTED arrays (the r9 HOF rule: never re-evaluate the
    tokenizer inside a lambda). One scan, no shuffle, no UDF.
    Returns (id, n_words, the 7 rule booleans, keep).

    ``tokenizer``/``alpha_pattern``: the multilingual pairing is
    ``tokenizer=tokens_unicode, alpha_pattern=r"\\p{L}"`` (the alpha
    rule must recognize letters in the tokenizer's alphabet); the
    stopword rule stays Gopher's English list by construction."""
    toks = tokenizer(F.col(text_col))
    lines = F.split(F.col(text_col), "\n", -1)
    d = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        lines.alias("__lines"),
        (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), "#", ""))
        ).alias("__hash_cnt"),
        (
            (
                F.length(F.col(text_col))
                - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
            )
            / 3
        ).cast("long").alias("__ell_cnt"),
    )
    n = F.size(F.col("__toks"))
    total_chars = F.length(F.array_join(F.col("__toks"), ""))
    alpha_words = F.size(F.filter(F.col("__toks"), lambda t: t.rlike(alpha_pattern)))
    n_lines = F.size(F.col("__lines"))
    bullet_lines = F.size(
        F.filter(
            F.col("__lines"),
            lambda l: F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* ")
            | F.ltrim(l).startswith("• "),
        )
    )
    ell_lines = F.size(
        F.filter(F.col("__lines"), lambda l: F.rtrim(l).endswith("..."))
    )
    stop_hits = sum(
        F.array_contains(F.col("__toks"), w).cast("int")
        for w in GOPHER_STOPWORDS
    )
    sym = F.col("__hash_cnt") + F.col("__ell_cnt")
    rules = {
        "r_word_count": (n >= min_words) & (n <= 100_000),
        "r_mean_len": (F.lit(3) * n <= total_chars)
        & (total_chars <= F.lit(10) * n),
        "r_symbol": F.lit(10) * sym < n,
        "r_bullet": F.lit(10) * bullet_lines < F.lit(9) * n_lines,
        "r_ellipsis": F.lit(10) * ell_lines < F.lit(3) * n_lines,
        "r_alpha": F.lit(10) * alpha_words > F.lit(8) * n,
        "r_stopword": stop_hits >= 2,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return d.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )


def nb_counts(train, id_col: str, text_col: str, label_col: str, buckets: int,
              tokenizer=tokens):
    """The naive-Bayes sufficient statistics of a labeled corpus:
    (bucket, n_p, n_n) per observed feature bucket, the 1-row feature
    totals (tot_p, tot_n), and the 1-row doc totals (docs_p, docs_n).
    All ADDITIVE — summing two corpora's statistics equals the union's
    — which is exactly what makes the classifier incrementally
    trainable. Feature and doc totals stay
    SEPARATE relations so each score-side broadcast subtree computes
    only its own aggregate (the weight table reads the feature pass,
    the bias reads one train scan — fusing them into one crossJoined
    row made BOTH broadcast subtrees pay BOTH aggregations, serially,
    measured ~1.5x on the classifier queries)."""
    tb = _hashed_features(train, id_col, text_col, buckets, extra=(label_col,),
                      tokenizer=tokenizer)
    counts = tb.groupBy("bucket").agg(
        F.sum(F.col(label_col).cast("long")).alias("n_p"),
        F.sum((~F.col(label_col)).cast("long")).alias("n_n"),
    )
    # Spark's SUM over zero rows is NULL, not 0 — uncoalesced, an empty
    # training corpus would poison the totals / the bias to NULL. The
    # per-bucket counts need no guard: an empty corpus has no bucket
    # rows at all.
    z = F.lit(0).cast("long")
    ftot = tb.agg(
        F.coalesce(F.sum(F.col(label_col).cast("long")), z).alias("tot_p"),
        F.coalesce(F.sum((~F.col(label_col)).cast("long")), z).alias("tot_n"),
    )
    dtot = train.agg(
        F.coalesce(F.sum(F.col(label_col).cast("long")), z).alias("docs_p"),
        F.coalesce(F.sum((~F.col(label_col)).cast("long")), z).alias("docs_n"),
    )
    return counts, ftot, dtot


def nb_score_from_counts(
    score, counts, ftot, dtot, id_col: str, text_col: str,
    buckets: int = 256, tokenizer=tokens,
):
    """Classify with a model given as sufficient statistics: per-bucket
    weight w[b] = round(ln((n_p+1)·(tot_n+B) / ((n_n+1)·(tot_p+B)))·QUANT)
    (`_bucket_log_ratio`) and bias = round(ln((docs_p+1)/(docs_n+1))·QUANT) — the single ln
    per TABLE row immediately quantized to BIGINT, so per-doc scoring
    is pure integer sums and both engines agree bitwise. Buckets never
    observed in training contribute nothing (inner probe — the oracle
    mirrors). Returns (id, logit_q, pred) — ONE row per DISTINCT id
    (the `lm_perplexity` contract, r12: duplicate ids' features
    aggregate into a single score row; callers needing per-input-row
    scores must key by a unique id)."""
    w = counts.crossJoin(F.broadcast(ftot)).select(
        "bucket", _bucket_log_ratio("n_p", "tot_p", "n_n", "tot_n", buckets).alias("w")
    )
    bias = dtot.select(
        F.round(
            F.log(
                (F.col("docs_p") + 1).cast("double")
                / (F.col("docs_n") + 1).cast("double")
            )
            * QUANT
        )
        .cast("long")
        .alias("bias")
    )
    # the every-doc bias contract rides the featurize pass itself
    # (r12): explode_outer keeps zero-feature docs as one NULL-bucket
    # placeholder row, the weight probe goes LEFT (a bucket unseen in
    # training contributes 0 — same as the former inner probe), and
    # the per-doc aggregate covers every doc — no corpus-keyed
    # join-back against the score relation (the `lm_perplexity`
    # rewrite, one corpus join fewer per scoring query)
    sb = _hashed_features(score, id_col, text_col, buckets, tokenizer=tokenizer,
                      outer=True)
    doc_sums = (
        sb.join(F.broadcast(w), "bucket", "left")
        .groupBy("doc")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("fsum"))
    )
    return (
        doc_sums.crossJoin(F.broadcast(bias))
        .select(
            F.col("doc").alias(id_col),
            (F.col("fsum") + F.col("bias")).cast("long").alias("logit_q"),
        )
        .withColumn("pred", F.col("logit_q") > 0)
    )


def nb_classifier_scores(
    train,
    score,
    id_col: str,
    text_col: str,
    buckets: int = 256,
    tokenizer=tokens,
):
    """fastText-style linear text classifier (Joulin et al. 2016,
    arXiv:1607.01759) over hashed unigram+bigram features, with
    multinomial-naive-Bayes log-odds as the weight vector — the shape
    CCNet (Wenzek et al. 2019) uses to keep "Wikipedia-like" pages.
    DSIR (`dsir_scores`) answers "reweight toward a target
    distribution"; this answers "binary keep/drop with a decision
    boundary". Composed as `nb_counts` (the additive sufficient
    statistics) feeding `nb_score_from_counts` (weights + bias +
    integer scoring).

    Plan: one featurize pass per corpus; the model is a ≤B-row
    broadcast + a 1-row bias; scoring is a broadcast join + per-doc
    partial-agg sum; docs with zero features score the bare bias via
    the final left join. ``train`` carries a boolean ``label``.
    Returns (id, logit_q, pred).

    ``tokenizer``: `tokens` (ASCII default) or `tokens_unicode` — the
    fit/score pairing contract (see `tokens_unicode`): train and score
    corpora featurize through the one tokenizer passed here."""
    counts, ftot, dtot = nb_counts(train, id_col, text_col, "label", buckets,
                                   tokenizer=tokenizer)
    return nb_score_from_counts(
        score, counts, ftot, dtot, id_col, text_col, buckets, tokenizer=tokenizer,
    )


def token_budget_select(
    scored,
    id_col: str,
    ntok_col: str,
    priority_col: str,
    budget: int,
    n_buckets: int | None = None,
):
    """Budget-constrained selection: keep documents in descending
    ``priority_col`` order (ties on id) while the INCLUSIVE running
    token total stays ≤ ``budget`` — the greedy fill every
    curated-corpus build runs once per source ("take the best N tokens
    of this pool", the knapsack relaxation under a token budget).

    The running total uses `grouped_running_sum`'s quantile-bucket
    prefix sum with an EMPTY group — never ``SUM() OVER (ORDER BY …)``,
    whose single-partition global window is the one shape that cannot
    scale: rows bucket by priority value, per-bucket sums prefix-sum on
    a bucket-count-sized relation, and the heavy cumulative window runs
    per bucket in parallel. Integer token counts and (typically
    integer-quantized) priorities keep the cut engine-bitwise.
    Returns the kept rows + ``cum_tokens``."""
    from fiat2_spark.operators.relational import grouped_running_sum

    # constant group, not group_cols=[]: keeps the bucket-offset
    # window declared-partitioned (grouped_running_sum's offset pass
    # would otherwise run "No Partition Defined" over the tiny offsets
    # relation) at the cost of one constant byte per row
    cum = grouped_running_sum(
        scored.withColumn("__g", F.lit(0)),
        ["__g"],
        priority_col,
        F.col(ntok_col).cast("long"),
        out_name="cum_tokens",
        descending=True,
        tiebreak=(F.col(id_col),),
        n_buckets=n_buckets,
    )
    return cum.filter(F.col("cum_tokens") <= budget).drop("__g")


def length_bucket_batches(df, id_col: str, ntok_col: str):
    """Length-bucketed batch construction — the padding-efficiency step
    of a padded-batch training pipeline (the bucket-by-length batching
    fairseq/T5-style loaders use; `pack_sequences` is the
    concat-and-cut alternative for decoder-only training): documents
    land in 64-token length BANDS (band = ⌊(n_tok−1)/64⌋ —
    pure integer arithmetic, no float-log band edges to disagree on),
    are ordered within a band by (n_tok desc, id), and cut into
    16-document batches — so each batch pads to its own
    max length, which band-local ordering keeps close to every
    member's length. Documents with zero tokens are excluded (nothing
    to batch; mirrored by the oracle).

    Plan: the per-band numbering runs through `grouped_row_number`'s
    quantile-bucket scheme — bands are LOW-cardinality (corpus length
    range / 64), exactly the regime where a plain
    band-partitioned window would plan |bands| tasks on a
    1000-executor cluster; value-pure bucketing + the id tiebreak keep
    ranks deterministic. Everything else is codegen'd arithmetic.
    Returns (id, n_tok, band, batch_id) per kept document."""
    from fiat2_spark.operators.relational import grouped_row_number

    d = (
        df.filter(F.col(ntok_col) > 0)
        .select(F.col(id_col), F.col(ntok_col).cast("long").alias("__nt"))
        .withColumn(
            "band",
            F.floor((F.col("__nt") - 1) / F.lit(64.0)).cast("long"),
        )
    )
    rn = grouped_row_number(
        d, ["band"], "__nt", id_name="__rn",
        descending=True, tiebreak=[F.col(id_col)],
    )
    return rn.select(
        F.col(id_col),
        F.col("__nt").alias(ntok_col),
        "band",
        F.floor((F.col("__rn") - 1) / F.lit(16.0))
        .cast("long")
        .alias("batch_id"),
    )


# --- DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429) ---

# Smoothing toward uniform, c = DOREMI_SMOOTH_NUM/DOREMI_SMOOTH_DEN;
# the trajectory's exp-factor scale and its mixture's fixed-point
# scale. `workloads/pipeline.py`'s trajectory oracle reads the same
# constants.
DOREMI_SMOOTH_NUM, DOREMI_SMOOTH_DEN = 1, 100
DOREMI_TRAJ_ESCALE = 10**6
DOREMI_ASCALE = 10**9


def doremi_weights(
    pool, ref, id_col: str, text_col: str, domain_col: str,
    vocab_size: int = 1024,
):
    """DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429):
    one Group-DRO multiplicative-weights step over the pool's domains.
    Per-domain EXCESS LOSS is what the stronger reference-fit model
    still improves over a context-free baseline — here instantiated
    with the repo's LM pair: proxy = add-1 unigram, reference = bigram
    with stupid backoff (both fit on ``ref`` by `lm_fit`, with its
    constants):

        exc(prev,w) = max(0, q_uni(w) − q_bi(prev,w))      [exact BIGINT]
        λq_k = round(Σ_k exc / Σ_k 1)        [quant-units/transition]
        e_k  = round(exp((λq_k − max λq)/QUANT) · escale) [≤ escale = 10⁹]
        α_k  = (1−c) · e_k / Σ e  +  c / K,   rounded to 6 dp,  c = 1/100

    (step size η = 1).

    The max-shift before the exp is softmax stabilization: it cancels
    in the normalization but bounds e_k ≤ escale, so the exact-integer
    normalizing sum can never overflow BIGINT however large the excess
    loss grows (un-shifted, λ > ~22.9 nats would).

    Engine-parity discipline: every per-token quantity is an integer
    (q_uni/q_bi are the usual round(-ln(exact-int ratio)·QUANT)); the
    per-domain exp runs ONCE per domain on an exact-integer-ratio
    argument and is immediately quantized to e_k, so the normalizing
    sum Σ e is exact integer arithmetic — no float summation-order
    hazard between engines. Domains with no scorable transition get
    λ = 0 (so e = round(exp(-λ_max/QUANT)·escale), the minimum of the
    softmax; e = escale only when λ_max = 0), never NULL.

    Scale: LM tables are MODEL-sized broadcasts (≤V+1 unigrams,
    vocab-closed bigrams); the pool is touched by ONE transition
    explode + two broadcast probes + a per-domain partial agg (K rows,
    K = #domains); everything after is K-row arithmetic. No corpus
    shuffle, no window. Returns
    (domain, n_docs, n_trans, excess_q, weight).

    NOTE (ADVICE r12): the K-row stats checkpoint makes this function
    EAGER — the full pool pass runs at call time, not at the first
    action — and its block belongs to the result (batch contract: the
    session owner's `release_checkpoint_blocks` sweep reclaims it)."""
    # three consumers read the checkpointed K-row stats `per` — the
    # λ_max aggregate, the normalizing-sum aggregate, and the final
    # select — so the corpus pass runs once
    per = _doremi_domain_stats(pool, ref, text_col, domain_col, vocab_size)
    # λ quantized to integer quant-units per transition, then softmax-
    # stabilized by the max BEFORE the exp: e_k = round(exp(η·(λ_k −
    # λ_max))·escale) ≤ escale, so e never overflows BIGINT no matter
    # how large the excess loss grows (un-shifted, λ > ~22.9 nats
    # would); the shift cancels in the normalization, and both the
    # oracle and the Python model mirror the identical quantize+shift.
    # K-row arithmetic over the checkpointed stats: the 1-row λ_max and
    # normalizing aggregates ride a constant-partition window instead
    # of separate agg+crossJoin(broadcast) subtrees (r12) — one stage,
    # no per-aggregate broadcast job; the constant partition key keeps
    # the window declared-partitioned (the token_budget_select idiom),
    # and every sum/max/count is exact integer arithmetic, so the
    # weight formula is bit-identical.
    wk = Window.partitionBy(F.lit(0))
    per = per.withColumn("lam_max", F.max("lamq").over(wk)).withColumn(
        "e",
        F.round(
            F.exp(
                (F.col("lamq") - F.col("lam_max")).cast("double") / F.lit(float(QUANT))
            )
            * 10**9
        ).cast("long"),
    )
    sn, sd = DOREMI_SMOOTH_NUM, DOREMI_SMOOTH_DEN
    return (
        per.withColumn("e_sum", F.sum("e").over(wk))
        .withColumn("k_dom", F.count(F.lit(1)).over(wk))
        .select(
            "domain", "n_docs", "n_trans", "excess_q",
            F.round(
                (F.col("e") * (sd - sn)).cast("double")
                / (F.col("e_sum") * sd).cast("double")
                + F.lit(sn).cast("double")
                / (F.col("k_dom") * sd).cast("double"),
                6,
            ).alias("weight"),
        )
    )


def _doremi_domain_stats(pool, ref, text_col: str, domain_col: str, vocab_size: int):
    """The shared DoReMi corpus pass: per-domain excess-loss statistics
    (domain, n_docs, n_trans, excess_q, lamq) with lamq the quantized
    integer mean excess per transition (0 for domains with no scorable
    transition, never NULL). The LM pair is `lm_fit`'s bigram (add-1
    unigram baseline ``q_uni`` vs the vocab-closed bigram with stupid
    backoff, both fit on ``ref``); the pool contributes ONE transition
    explode with the domain riding the explode itself — no corpus-keyed
    join back. `doremi_weights` (one step) and
    `doremi_weights_trajectory` (Algorithm 1's T rounds) both start
    here, so the expensive pass is defined once. EAGER: the K-row stats
    are localCheckpointed here (every caller reads them more than once),
    and the fit's own checkpoints, which nothing reads after that, are
    released, so the stats' block is the only one this leaves resident."""
    vocab, (q1, q2), fit = lm_fit(ref, text_col, 2, vocab_size)
    # score pool transitions: excess = max(0, baseline − reference).
    # The domain rides the explode itself — no corpus-keyed join back
    # to the pool (the one shuffle a doc-keyed formulation would add).
    pt = _grams(pool, 2, [domain_col], text_col, tokens)
    for c in _gram_cols(2):
        pt = _vocab_mapped(pt, c, vocab)
    exc = (
        pt.join(F.broadcast(q2), ["p1", "w"], "left")
        .join(F.broadcast(q1), "w")
        .select(
            F.col(domain_col).alias("domain"),
            F.greatest(
                F.lit(0).cast("long"),
                F.col("q_uni") - F.coalesce("q2", "q1"),
            ).alias("exc"),
        )
        .groupBy("domain")
        .agg(F.sum("exc").alias("excess_q"), F.count(F.lit(1)).alias("n_trans"))
    )
    # every pool domain appears even with zero scorable transitions
    domains = pool.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per = domains.join(exc, "domain", "left").select(
        "domain", "n_docs",
        F.coalesce("n_trans", F.lit(0)).cast("long").alias("n_trans"),
        F.coalesce("excess_q", F.lit(0)).cast("long").alias("excess_q"),
    )
    # λ quantized to integer quant-units per transition — 0, never
    # NULL, for domains with no scorable transition
    lamq = F.when(
        F.col("n_trans") > 0,
        F.round(F.col("excess_q") / F.col("n_trans").cast("double")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    per = per.withColumn("lamq", lamq).localCheckpoint()
    release_blocks(pool.sparkSession, block_ids(*fit))
    return per


def doremi_weights_trajectory(
    pool, ref, id_col: str, text_col: str, domain_col: str,
    rounds: int = 5,
    vocab_size: int = 1024,
):
    """Multi-round DoReMi (Xie et al. 2023 Algorithm 1): iterate the
    Group-DRO multiplicative-weights update T times and return the
    TRAJECTORY-AVERAGED mixture ᾱ = (1/T)·Σ_t α_t — the paper's actual
    output (a single step is `doremi_weights`; averaging over the
    trajectory is what damps the oscillation of exponentiated-gradient
    updates). With this instantiation's STATIC per-domain excess loss
    (the proxy/reference LM pair is fixed, not retrained per round),
    round t's pre-smoothing mass compounds as α_{t-1}·exp(η·λ) — but
    the per-round smoothing re-mixes toward uniform, so the trajectory
    is a genuine iteration, not a closed form.

    Integer discipline (the engine/oracle parity contract): α is
    fixed-point in units of 1/ascale, ascale = DOREMI_ASCALE = 10⁹
    (a_k ≤ ascale always, since the update is a convex combination
    scaled by ascale), the multiplicative factor
    e_k = round(exp((λ_k−λ_max)/QUANT)·escale) ≤ escale =
    DOREMI_TRAJ_ESCALE = 10⁶ is quantized ONCE (λ static → e static), so the
    per-round mass m_k = a_k·e_k ≤ 10¹⁵ and Σm ≤ K·10¹⁵ stay exact
    BIGINTs; the only floats are one division pair per round with a
    pinned evaluation order ((m·w1)/Σm + w2/(K·sd)) that Spark and
    DuckDB both execute as written, immediately re-quantized to a_k.
    DOREMI_SMOOTH_DEN must divide ascale·(DOREMI_SMOOTH_DEN −
    DOREMI_SMOOTH_NUM) so w1 = 99·10⁷ and w2 = 10⁹ are exact integer
    literals (asserted).

    Scale: the corpus pass (`_doremi_domain_stats`) is shared and runs
    ONCE; each round is a K-row job (sum + crossJoin + arithmetic),
    localCheckpoint-truncated so the T-round lineage stays flat.
    Returns (domain, n_docs, n_trans, excess_q, weight), Σ weight ≈ 1.
    The domain stats, the initial state, every 4th interior round and
    the final state are checkpointed; each is released as soon
    as the next one replaces it, so only the final state's block
    belongs to the returned result (the session owner's sweep reclaims
    it)."""
    ascale, sd = DOREMI_ASCALE, DOREMI_SMOOTH_DEN
    w1, r1 = divmod(ascale * (sd - DOREMI_SMOOTH_NUM), sd)
    w2 = ascale * DOREMI_SMOOTH_NUM
    assert r1 == 0, "DOREMI_SMOOTH_DEN must divide ascale*(sd-sn)"

    # the checkpointed K-row domain stats: λ_max, k_dom, and the
    # round-0 state read them without re-running the corpus pass
    per = _doremi_domain_stats(pool, ref, text_col, domain_col, vocab_size)
    # constant-partition window over the K-row checkpoint, as in
    # doremi_weights (r12): λ_max and k_dom in the same stage as the
    # state projection, no per-aggregate broadcast jobs
    wk = Window.partitionBy(F.lit(0))
    cur = (
        per.withColumn("lam_max", F.max("lamq").over(wk))
        .withColumn("k_dom", F.count(F.lit(1)).over(wk))
        .withColumn(
            "e",
            F.round(
                F.exp(
                    (F.col("lamq") - F.col("lam_max")).cast("double") / F.lit(float(QUANT))
                )
                * DOREMI_TRAJ_ESCALE
            ).cast("long"),
        )
        .withColumn(
            "a",
            F.round(F.lit(float(ascale)) / F.col("k_dom")).cast("long"),
        )
        .withColumn("asum", F.lit(0).cast("long"))
    ).localCheckpoint()
    spark = pool.sparkSession
    release_blocks(spark, block_ids(per))
    held = cur  # the checkpoint the loop state reads
    for _t in range(rounds):
        # per-round Σm as the same constant-partition window (r12):
        # each round's checkpoint is ONE K-row stage instead of an
        # agg job + broadcast + crossJoin per round; the exact-BIGINT
        # sum and the pinned float evaluation order are unchanged
        cur = cur.withColumn("m", F.col("a") * F.col("e")).withColumn(
            "m_sum", F.sum("m").over(wk)
        )
        a_new = F.round(
            F.col("m").cast("double")
            * F.lit(float(w1))
            / F.col("m_sum").cast("double")
            + F.lit(float(w2))
            / (F.col("k_dom") * F.lit(sd)).cast("double")
        ).cast("long")
        cur = (
            cur.withColumn("a", a_new)
            .withColumn("asum", F.col("asum") + F.col("a"))
            .drop("m", "m_sum")
        )
        # checkpoint-stride 4 (the bpe_learn checkpoint_every idiom,
        # r12): each deferred round is one K-row window projection —
        # re-planning ≤ 3 of them is cheaper than a materialization JOB
        # per round, while lineage stays bounded for any T
        if (_t + 1) % 4 == 0 and _t + 1 < rounds:
            cur = cur.localCheckpoint()
            release_blocks(spark, block_ids(held))
            held = cur
    cur = cur.localCheckpoint()
    release_blocks(spark, block_ids(held))
    return cur.select(
        "domain", "n_docs", "n_trans", "excess_q",
        F.round(
            F.col("asum").cast("double") / F.lit(float(rounds * ascale)), 6
        ).alias("weight"),
    )


# --- BPE merge learning (Sennrich et al. 2016, arXiv:1508.07909) ---

# Per-symbol wrappers: every symbol is stored as \x01<sym>\x02 inside a
# word's symbol string, so a merge is ONE non-regex string replace of
# \x01l\x02\x01r\x02 with \x01lr\x02 — left-to-right non-overlapping in
# Spark (java.lang.String.replace), DuckDB (replace), and Python
# (str.replace) alike, which is exactly BPE's within-word merge rule.
# Tokens are [a-z0-9]+ (or \p{L}\p{N}+ under `tokens_unicode`) by the
# tokenizer contract — never control chars or '<'/'/'/'>' — so the
# wrappers and the '</w>' end marker can never collide with symbol text.
BPE_LB = "\x01"
BPE_RB = "\x02"
BPE_EOW = "</w>"


def bpe_symbolize(word: Column) -> Column:
    """Initial BPE symbol string for a word: each character wrapped as
    an individual symbol, plus the end-of-word marker symbol."""
    return F.concat(
        F.regexp_replace(word, "(.)", BPE_LB + "$1" + BPE_RB),
        F.lit(BPE_LB + BPE_EOW + BPE_RB),
    )


def _bpe_merge_rule(lhs: str, rhs: str) -> tuple[str, str]:
    """(pattern, replacement) of merge (lhs, rhs) on a wrapped symbol
    string: LB lhs RB LB rhs RB → LB lhs+rhs RB (LB/RB =
    `BPE_LB`/`BPE_RB`), applied as one non-regex replace."""
    return BPE_LB + lhs + BPE_RB + BPE_LB + rhs + BPE_RB, BPE_LB + lhs + rhs + BPE_RB


def _bpe_replay(merges: list[tuple[str, str]]) -> Column:
    """The ``word`` column's symbol string after every merge in learned
    order: one chained projection of non-regex replaces."""
    wrapped = bpe_symbolize(F.col("word"))
    for lhs, rhs in merges:
        wrapped = F.replace(wrapped, *map(F.lit, _bpe_merge_rule(lhs, rhs)))
    return wrapped


def bpe_symbols(wrapped: Column) -> Column:
    """Symbol array from a wrapped symbol string (inverse of the
    wrapping, native split/filter/substring — no UDF)."""
    return F.transform(
        F.filter(F.split(wrapped, BPE_RB), lambda x: x != ""),
        lambda x: F.substring(x, F.lit(2), F.length(x)),
    )


def bpe_word_table(df, text_col: str, tokenizer=tokens):
    """(word, wrapped, freq): the word-frequency relation BPE learning
    runs on. One tokenize+explode pass over the corpus, then a
    vocab-sized groupBy — every subsequent merge iteration touches ONLY
    this model-sized relation, never the corpus again (the property
    that makes distributed BPE tractable at 100 TB: the corpus
    contributes one aggregation pass, the merge loop is
    vocabulary-work). The raw ``word`` rides along (r12) so a
    same-corpus encode can reuse the learner's fully-merged vocabulary
    directly (`bpe_encode`/`bpe_encode_ids` ``words=``) instead of
    re-deriving it with a second corpus-distinct pass + merge replay.
    ``tokenizer``: `tokens` (ASCII default) or `tokens_unicode`."""
    return (
        df.select(F.explode(tokenizer(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", bpe_symbolize(F.col("word")).alias("wrapped"), "freq")
    )


def bpe_pair_stats(words):
    """(lhs, rhs, freq): adjacent-symbol pair counts over a
    (wrapped, freq) word table, weighted by word frequency — one
    explode + partial agg over the vocab-sized relation."""
    syms = bpe_symbols(F.col("wrapped"))
    n = F.size(syms)
    pairs = F.when(
        n >= 2, F.arrays_zip(F.slice(syms, 1, n - 1), F.slice(syms, 2, n - 1))
    )
    return (
        words.select("freq", F.explode(pairs).alias("p"))
        .select(
            F.col("p")["0"].alias("lhs"), F.col("p")["1"].alias("rhs"), "freq"
        )
        .groupBy("lhs", "rhs")
        .agg(F.sum("freq").alias("freq"))
    )


def bpe_pair_counts(df, text_col: str):
    """Top-32 first-iteration BPE pair counts over a corpus (count
    desc, then lexicographic — the deterministic tie-break
    `bpe_learn` merges by). TakeOrderedAndProject over the vocab-sized
    pair relation."""
    return (
        bpe_pair_stats(bpe_word_table(df, text_col, tokens))
        .orderBy(F.desc("freq"), "lhs", "rhs")
        .limit(32)
    )


#: Driver-side merge-loop threshold (r13): when the materialized word
#: table holds at most this many rows, `bpe_learn_from_words` collects
#: it once and runs the merge loop in plain Python — zero Spark jobs
#: per merge instead of one vocab-relation argmax job each (the
#: sub-`FOLD_COLLECT_LIMIT` driver-materialization idiom of
#: plans/compile.py, sized far smaller because the loop re-walks every
#: row per merge). 65,536 rows × ~100 B ≈ 7 MB on the driver; a real
#: heavy-tailed corpus vocabulary (~1e8 rows at 100 TB under Heaps'
#: law) stays on the distributed loop below. The Python loop mirrors
#: the distributed one operation for operation (same wrapped-symbol
#: strings, same left-to-right non-overlapping `str.replace`, same
#: (freq desc, lhs, rhs) argmax — Python code-point string order ==
#: UTF8String byte order), so the two paths are bit-identical;
#: `test_bpe_learn_driver_matches_distributed` pins it.
BPE_DRIVER_VOCAB_LIMIT = 65_536


def _bpe_learn_driver(spark, schema, rows, n_merges: int):
    """The Sennrich merge loop on a DRIVER-COLLECTED word table (rows
    of `schema`, which must carry `wrapped` and `freq`): pair counts,
    (freq desc, lhs, rhs) argmax, left-to-right non-overlapping
    replace — the exact operations the distributed loop runs, on the
    same wrapped-symbol strings. Returns (words_df, merges_df) with
    the final vocabulary as a LocalRelation (driver-local rows need no
    checkpoint: re-planning them re-scans nothing)."""
    names = schema.fieldNames()
    wi, fi = names.index("wrapped"), names.index("freq")
    wrapped = [r[wi] for r in rows]
    freqs = [r[fi] for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, f in zip(wrapped, freqs):
            syms = [p[1:] for p in w.split(BPE_RB) if p]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + f
        if not pc:
            break
        (lhs, rhs), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, lhs, rhs, freq))
        pattern, repl = _bpe_merge_rule(lhs, rhs)
        wrapped = [w.replace(pattern, repl) for w in wrapped]
    out = [
        tuple(r)[:wi] + (w,) + tuple(r)[wi + 1:]
        for r, w in zip(rows, wrapped)
    ]
    wdf = spark.createDataFrame(out, schema)
    mdf = spark.createDataFrame(
        merges, "step int, lhs string, rhs string, freq bigint"
    )
    return wdf, mdf


def bpe_learn_from_words(words, n_merges: int, checkpoint_every: int = 8):
    """The BPE merge loop over an EXISTING (wrapped, freq) word table
    (Sennrich et al. 2016 `learn_bpe`): repeatedly take the highest-
    frequency adjacent symbol pair (ties: lexicographic on (lhs, rhs))
    and merge it everywhere, left-to-right non-overlapping within each
    word. `bpe_learn` feeds it one corpus aggregation.

    Iterative by nature (each argmax depends on the previous rewrite),
    so the loop runs on the driver — and when the materialized word
    table is at most `BPE_DRIVER_VOCAB_LIMIT` rows the DATA does too:
    one bounded collect of the checkpointed vocabulary, then the whole
    loop in Python with zero Spark jobs per merge (r13; bit-identical
    by construction, see `_bpe_learn_driver`). Above the limit every
    iteration's job touches only the VOCAB-sized relation: a pair
    count + a 1-row TakeOrdered + a string replace. Lineage is
    truncated with a localCheckpoint
    every ``checkpoint_every`` merges rather than every merge: each
    deferred step is ONE codegen'd string replace on a vocab-sized
    relation (re-running ≤ checkpoint_every−1 of them inside the next
    argmax job is cheap), while an eager checkpoint is a full
    materialization JOB per merge — at a real tokenizer's ~30k merges
    the per-merge checkpoint dominates the loop, and lineage must
    still be bounded, hence the stride. Each loop checkpoint is
    released once the next one replaces it; the last belongs to the
    returned result (session owner's sweep). Returns
    (words, merges) where merges is [(step, lhs, rhs, freq)] and words
    is the final symbolized vocab (always checkpoint-materialized)."""
    spark = words.sparkSession
    words = words.localCheckpoint()
    if BPE_DRIVER_VOCAB_LIMIT > 0:
        # bounded size-probe-and-fetch in ONE job on the checkpoint
        # blocks: coalesce(1) keeps executeTake from its adaptive
        # multi-job partition scan, and the limit caps what the driver
        # can ever pull; ≤ limit rows returned ⇒ we hold the whole
        # vocabulary and the loop needs no further Spark jobs
        probe = words.coalesce(1).limit(BPE_DRIVER_VOCAB_LIMIT + 1).collect()
        if len(probe) <= BPE_DRIVER_VOCAB_LIMIT:
            release_blocks(spark, block_ids(words))  # nothing reads it now
            return _bpe_learn_driver(spark, words.schema, probe, n_merges)
    merges: list[tuple[int, str, str, int]] = []
    held, pending = words, 0  # held: the checkpoint `words` reads
    for step in range(1, n_merges + 1):
        top = (
            bpe_pair_stats(words)
            .orderBy(F.desc("freq"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, freq = top[0]["lhs"], top[0]["rhs"], top[0]["freq"]
        merges.append((step, lhs, rhs, freq))
        words = words.withColumn(
            "wrapped", F.replace(F.col("wrapped"), *map(F.lit, _bpe_merge_rule(lhs, rhs)))
        )
        pending += 1
        if pending >= checkpoint_every:
            words = words.localCheckpoint()
            release_blocks(spark, block_ids(held))
            held, pending = words, 0
    if pending:
        words = words.localCheckpoint()
        release_blocks(spark, block_ids(held))
    mdf = spark.createDataFrame(
        merges, "step int, lhs string, rhs string, freq bigint"
    )
    return words, mdf


def bpe_learn(df, text_col: str, n_merges: int, checkpoint_every: int = 8,
              tokenizer=tokens):
    """Learn ``n_merges`` BPE merges over a corpus: ONE corpus
    aggregation (`bpe_word_table`) feeding the vocab-sized merge loop
    (`bpe_learn_from_words` — see it for the iteration/checkpoint
    discipline). Returns (words, merges)."""
    return bpe_learn_from_words(
        bpe_word_table(df, text_col, tokenizer), n_merges, checkpoint_every
    )


def bpe_merge_list(mdf) -> list[tuple[str, str]]:
    """The learned merges as ``(lhs, rhs)`` pairs in learned order. The
    merge table has one row per merge and the driver holds it anyway,
    so it is collected and sorted on ``step`` in Python: one job, where
    ``orderBy("step").collect()`` adds a range sort's sampling job and
    shuffle stage."""
    return [(r["lhs"], r["rhs"]) for r in sorted(mdf.collect(), key=lambda r: r["step"])]


def bpe_encode(df, id_col: str, text_col: str, merges: list[tuple[str, str]],
               tokenizer=tokens, words=None):
    """Apply learned BPE merges to a corpus (Sennrich et al. 2016
    `apply_bpe`): each word's symbol string gets every merge's replace
    IN LEARNED ORDER — one chained codegen'd projection of
    ``len(merges)`` non-regex replaces, the same left-to-right
    non-overlapping semantics the learner used. Returns
    (id, n_words, n_bpe_tokens) per document; documents with zero
    tokens are absent (nothing to encode — the inner join against the
    token stream is the contract, mirrored by the oracle).

    Scale: the merge chain runs on the DISTINCT word relation
    (vocab-sized), never per corpus token; the corpus contributes one
    tokenize+explode pass that probes the encoded vocab and
    partial-aggregates per document. The vocab probe is deliberately
    UN-hinted: a natural-language vocab is heavy-tailed (can reach
    1e8 rows on a 100 TB corpus — past any broadcast budget), so AQE
    sizes the join at runtime — broadcast when the vocab is small,
    word-co-partitioned hash join when it isn't. Encoding cost is
    O(corpus tokens) joins + O(vocab · merges) string work.

    ``words``: the learner's final (word, wrapped, …) vocabulary
    relation (`bpe_learn`'s first return — fully merged AND
    checkpoint-materialized). Pass it when encoding the SAME corpus
    (same tokenizer) the merges were learned on: the encoded vocab is
    then a pure projection of those blocks, and the second corpus-wide
    distinct pass + merge-chain replay disappear (r12). With a
    different corpus (or tokenizer) leave it None — the vocab probe is
    an INNER join on word, so a ``words`` table that does not cover
    the corpus silently drops every unseen word's tokens from the
    counts (ADVICE r12) rather than failing; only the replay path can
    encode unseen words."""
    if words is not None:
        toks_per_word = words.select(
            "word", F.size(bpe_symbols(F.col("wrapped"))).alias("n_sym")
        )
    else:
        toks_per_word = (
            df.select(F.explode(tokenizer(F.col(text_col))).alias("word"))
            .distinct()
            .select("word", F.size(bpe_symbols(_bpe_replay(merges))).alias("n_sym"))
        )
    return (
        df.select(F.col(id_col), F.explode(tokenizer(F.col(text_col))).alias("word"))
        .join(toks_per_word, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


def bpe_encode_ids(df, id_col: str, text_col: str, merges: list[tuple[str, str]],
                   words=None):
    """ORDER-PRESERVING BPE encode — the real tokenize endpoint
    (Sennrich et al. 2016 `apply_bpe` emitting input_ids, not counts):
    every document becomes its token-ID SEQUENCE (id, pos, token_id)
    with pos the 1-based position in the document's BPE token stream,
    ready to feed `pack_sequences`-style context packing. Reference
    analog: the §2.2/§2.7 ordered proj surface (Interpret.v:467-490).

    Construction (everything model-sized except two corpus explodes):

    1. the merge chain — one codegen'd projection of ``len(merges)``
       non-regex replaces — runs on the DISTINCT word relation, giving
       each word its encoded symbol ARRAY (`bpe_symbols`); the relation
       is localCheckpointed because it feeds both the vocab and the
       probe (batch block contract);
    2. token ids are dense ranks over the DISTINCT encoded symbols in
       lexicographic order — a row_number over the MODEL-sized symbol
       set (single-partition by construction and intent: a tokenizer
       vocab is ≤ ~1e5 rows at any corpus scale), broadcast to the
       stream;
    3. the corpus contributes one posexplode to (doc, word_idx, word),
       an AQE-sized join against the word→symbols relation (broadcast
       when the vocab fits, word-co-partitioned hash join when a
       100 TB heavy-tail vocab doesn't — deliberately un-hinted, same
       rationale as `bpe_encode`), then a second posexplode to symbol
       granularity;
    4. positions are ARITHMETIC, not a symbol-level ranking: a
       doc-partitioned running sum of per-word symbol counts over the
       WORD stream gives each word its exclusive in-doc prefix, and
       pos = prefix + sym_idx + 1 — the only window runs on the
       ~5×-smaller word relation, and nothing ever ranks the full
       symbol stream (millions of tiny doc partitions either way; no
       global window touches the corpus).

    Documents with zero tokens are absent (nothing to encode — the
    `bpe_encode` contract, mirrored by the oracle).

    ``words``: same-corpus vocabulary reuse as in `bpe_encode` — the
    learner's checkpoint-materialized final vocab replaces the
    distinct pass + merge replay + the extra checkpoint job (r12)."""
    from pyspark.sql import Window as W

    if words is not None:
        # pure projection of the learner's checkpoint blocks — no
        # corpus pass, no replay, and no second materialization job
        enc = words.select("word", bpe_symbols(F.col("wrapped")).alias("syms"))
    else:
        enc = (
            df.select(F.explode(tokens(F.col(text_col))).alias("word"))
            .distinct()
            .select("word", bpe_symbols(_bpe_replay(merges)).alias("syms"))
            .localCheckpoint()
        )
    vocab_ids = (
        enc.select(F.explode("syms").alias("sym"))
        .distinct()
        .withColumn(
            "token_id",
            F.row_number().over(W.orderBy("sym")).cast("long"),
        )
    )
    dt = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("word_idx", "word"),
    )
    w = W.partitionBy(id_col).orderBy("word_idx")
    dw = (
        dt.join(enc, "word")
        .withColumn("__nsym", F.size("syms").cast("long"))
        .withColumn("__wpre", F.sum("__nsym").over(w) - F.col("__nsym"))
    )
    ds = dw.select(
        id_col, "__wpre", F.posexplode("syms").alias("sym_idx", "sym")
    )
    return (
        ds.join(F.broadcast(vocab_ids), "sym")
        .select(
            F.col(id_col),
            (F.col("__wpre") + F.col("sym_idx") + 1).cast("long").alias("pos"),
            "token_id",
        )
    )
