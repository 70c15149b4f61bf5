"""Text operators for the webtext pipeline — all vectorized (Arrow/pandas).

``html_to_text`` is the engine's canonical extractor (the target payload
operator required by the production spec in place of the reference's sensor
math, SURVEY §2.2): a deterministic, pure function of the html bytes, so
its output is byte-identical per url across runs, engines and partitionings.
It is exposed both as a plain Python function (oracle for tests / data
generation) and as a ``pandas_udf`` (the only form allowed in the hot path —
no per-row Python UDFs anywhere).

Also: language id (stopword-hit heuristic), quality scoring, token
counting, and fingerprinting for the training-data pipeline operators.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

__all__ = [
    "extract_text",
    "html_to_text_udf",
    "html_to_text_md5_udf",
    "token_count_col",
    "bpe_token_count_col",
    "quality_score_cols",
    "lang_id_udf",
    "lang_id_py",
    "fingerprint_md5",
    "pii_scrub_cols",
    "winnow_fingerprints",
    "winnow_fingerprints_udf",
    "gopher_verdict_cols",
    "compression_ratio_udf",
    "normalize_text_cols",
    "CONTROL_CHAR_CLASS",
]

_SCRIPT_RE = re.compile(rb"<(script|style)\b.*?</\1>", re.S | re.I)
_TAG_RE = re.compile(rb"<[^>]*>")


def extract_text(html_bytes: bytes) -> str:
    """Canonical deterministic HTML→text extraction (pure function).

    Strips script/style blocks, removes tags, unescapes entities, collapses
    whitespace. Byte-identical per input across platforms (pure bytes/str
    ops, no locale dependence).
    """
    if html_bytes is None:
        return ""
    no_script = _SCRIPT_RE.sub(b" ", html_bytes)
    no_tags = _TAG_RE.sub(b" ", no_script)
    text = no_tags.decode("utf-8", errors="replace")
    text = _html.unescape(text)
    return " ".join(text.split())


@F.pandas_udf(StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched extraction UDF — the hot-path form of extract_text."""
    return html.map(extract_text)


@F.pandas_udf(StringType())
def html_to_text_md5_udf(html: pd.Series) -> pd.Series:
    """Fused extract + fingerprint: md5 hex of the extracted text, computed
    INSIDE the UDF. Bit-identical to ``F.md5(html_to_text_udf(x))`` (md5 of
    the UTF-8 bytes), but only 32 chars cross the Python→JVM Arrow boundary
    per row instead of the full extracted text — on the streaming bench the
    extracted-text transfer dominated the map stage's memory-bandwidth
    footprint (the documented 2→8 scaling limiter, BENCH.md §3). Use when
    the downstream consumer needs only the fingerprint."""
    import hashlib

    return html.map(
        lambda b: hashlib.md5(extract_text(b).encode()).hexdigest()
    )


# ---------------------------------------------------------------- analysis

def token_count_col(text_col):
    """Whitespace token count as a pure column expression (JVM-side)."""
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count_col(text_col):
    """BPE-ish subword-boundary token count as a pure column expression:
    maximal runs of letters / digits / other-non-space. The alternation's
    character classes are disjoint, so the count is identical under any
    regex engine's matching semantics (Java regex here, RE2 in the DuckDB
    oracle) — engine-portable by construction."""
    return F.regexp_count(text_col, F.lit(BPE_ISH_PATTERN))


def quality_score_cols(text_col):
    """Heuristic quality features as pure column expressions:
    n_chars, n_tokens, alpha_ratio, punct_ratio, mean_token_len."""
    t = F.trim(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_col(text_col)
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": F.round(alpha / F.greatest(n_chars, F.lit(1)), 6),
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 6),
        "mean_token_len": F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6),
    }


def gopher_verdict_cols(
    text_col,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    min_stopword_hits: int = 2,
    stopwords: list[str] | None = None,
    lang: str = "en",
):
    """Gopher/MassiveText-style KEEP/DROP verdict as pure column
    expressions — the actual corpus filter the stats feed (the
    repetition/quality STATS live in ``operators/quality`` and
    :func:`quality_score_cols`; this is the rule bundle with an
    auditable reason string).

    Rules (each a deterministic threshold on the shared tokenization):
    text must be non-NULL (NULL is unscoreable and FAILS CLOSED with
    reason ``null_text`` — every other rule's comparison is NULL on
    NULL input and ``concat_ws`` would silently skip it, turning a
    corpus filter into a keep-everything-unscoreable hole, ADVICE
    round-4); token count inside [min_tokens, max_tokens]; mean token
    length inside [min_mean_token_len, max_mean_token_len]; at least
    ``min_stopword_hits`` distinct stopword hits (the "contains common
    words" prose test) against ``stopwords`` if given, else the
    built-in list for ``lang`` (en/de/fr/es — the round-4 default
    hardcoded English, silently dropping most non-English corpora).
    Output columns: ``keep`` boolean + ``drop_reasons`` (comma-joined
    stable order, '' when kept) — strings, not arrays, so driver-gate
    canonicalization holds. Zero exchanges: everything is a scalar
    expression over the row.
    """
    if stopwords is None:
        if lang not in _STOPWORDS:
            raise ValueError(
                f"no built-in stopword list for lang={lang!r} "
                f"(have {sorted(_STOPWORDS)}); pass stopwords= explicitly"
            )
        stopwords = _STOPWORDS[lang]
    q = quality_score_cols(text_col)
    checks = [
        # first and unconditional: NULL text fails closed (see docstring)
        ("null_text", text_col.isNull()),
        ("too_few_tokens", q["n_tokens"] < min_tokens),
        ("too_many_tokens", q["n_tokens"] > max_tokens),
        ("mean_token_len_low", q["mean_token_len"] < min_mean_token_len),
        ("mean_token_len_high", q["mean_token_len"] > max_mean_token_len),
    ]
    if min_stopword_hits > 0:
        # threshold 0 disables the rule — skip building the per-row
        # tokenize + intersect entirely (size() >= 0 always, but Catalyst
        # cannot prove that and would evaluate it per row)
        toks = F.split(F.lower(F.trim(text_col)), r"\s+")
        stop_hits = F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(w) for w in stopwords])
            )
        )
        checks.append(("too_few_stopwords", stop_hits < min_stopword_hits))
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in checks]
    )
    return {"keep": reasons == "", "drop_reasons": reasons}


_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour", "une", "des"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "un", "por", "con"],
}


def lang_id_py(text: str) -> str:
    """Stopword-hit language heuristic (deterministic tie-break by lang)."""
    if not text:
        return "und"
    toks = set(re.split(r"\W+", text.lower()))
    best, best_hits = "und", 0
    for lang in sorted(_STOPWORDS):
        hits = sum(1 for w in _STOPWORDS[lang] if w in toks)
        if hits > best_hits:
            best, best_hits = lang, hits
    return best


@F.pandas_udf(StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: lang_id_py(t or ""))


def fingerprint_md5(text_col):
    """Whole-document fingerprint — md5 (identical in Spark and DuckDB)."""
    return F.md5(text_col)


# PII patterns are deliberately engine-portable: plain character classes +
# bounded quantifiers, no backreferences / lookaround, so Java regex (Spark)
# and RE2 (DuckDB with the 'g' flag — DuckDB's regexp_replace is first-match
# by default while Spark's is global) find the identical match set.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub_cols(text_col):
    """PII redaction as pure column expressions (training-data scrub stage).

    Emails then phones are replaced with typed placeholder tags; the match
    counts ride along so the pipeline can filter or audit by redaction
    density. All JVM-side regexp — no Python in the hot path; the redacted
    text is a deterministic pure function of the input, so the stage
    composes with dedup/fingerprinting downstream.
    """
    n_emails = F.regexp_count(text_col, F.lit(PII_EMAIL_PATTERN))
    no_email = F.regexp_replace(text_col, PII_EMAIL_PATTERN, "<EMAIL>")
    n_phones = F.regexp_count(no_email, F.lit(PII_PHONE_PATTERN))
    scrubbed = F.regexp_replace(no_email, PII_PHONE_PATTERN, "<PHONE>")
    return {
        "n_emails": n_emails,
        "n_phones": n_phones,
        "scrubbed": scrubbed,
    }


_WINNOW_B = 0x100000001B3  # odd → invertible mod 2^64 (FNV prime)
_WINNOW_BINV = pow(_WINNOW_B, -1, 1 << 64)


def _winnow_np(data: bytes, k: int, window: int):
    """Vectorized winnowing kernel over UTF-8 bytes (pure numpy, O(n)).

    k-gram hashes via a position-normalized polynomial rolling hash in
    uint64 wraparound arithmetic (mod 2^64; the base is odd, hence
    invertible): g(i) = (A(i+k) − A(i)) · B^i with A the cumulative sum of
    c[t]·B^(−t). Window minima + the leftmost-min positional dedup give the
    standard winnowing fingerprint set.
    """
    import numpy as np

    c = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(c)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        binv_pows = np.empty(n, dtype=np.uint64)
        binv_pows[0] = 1
        b_pows = np.empty(n, dtype=np.uint64)
        b_pows[0] = 1
        if n > 1:
            np.multiply.accumulate(
                np.full(n - 1, _WINNOW_BINV, dtype=np.uint64), out=binv_pows[1:]
            )
            np.multiply.accumulate(
                np.full(n - 1, _WINNOW_B, dtype=np.uint64), out=b_pows[1:]
            )
        a = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(c * binv_pows, out=a[1:])
        g = (a[k:] - a[: n - k + 1]) * b_pows[: n - k + 1]
    m = len(g)
    w = min(window, m)
    from numpy.lib.stride_tricks import sliding_window_view

    win = sliding_window_view(g, w)
    rel = win.argmin(axis=1)
    pos = np.arange(len(win), dtype=np.int64) + rel
    keep = np.empty(len(pos), dtype=bool)
    keep[0] = True
    keep[1:] = pos[1:] != pos[:-1]
    return g[pos[keep]]


def winnow_fingerprints(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Winnowing document fingerprint: min rolling-hash per window over
    k-grams (robust local fingerprints for near-dup detection). Thin
    wrapper over the vectorized numpy kernel; the hot-path form is
    :func:`winnow_fingerprints_udf`."""
    if not text:
        return []
    return [int(x) for x in _winnow_np(text.encode("utf-8"), k, window)]


def winnow_fingerprints_udf(k: int = 8, window: int = 4):
    """Arrow-batched winnowing UDF (array<long> of fingerprints per doc) —
    numpy per document, never per-character Python."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def fp(text: pd.Series) -> pd.Series:
        def one(t):
            if not t:
                return []
            # reinterpret uint64 as int64 for the BIGINT column
            return (
                _winnow_np(t.encode("utf-8"), k, window)
                .astype("int64")
                .tolist()
            )

        return text.map(one)

    return fp


def compression_ratio_udf(level: int = 6):
    """Arrow-batched zlib compression-ratio UDF — the CCNet-style
    redundancy signal: highly compressible text (ratio near 0) is
    repetitive boilerplate/template content even when no single n-gram
    dominates; near-incompressible "text" is often binary junk or
    encoded blobs. Returns ``compressed_bytes / utf8_bytes`` rounded to
    6 dp (NULL for NULL input, 1.0 for empty — nothing to compress).

    zlib is stdlib (no optional dependency) and deterministic for a
    fixed level, so the score is reproducible across runs and workers;
    there is no SQL analogue, so this signal is pytest-verified against
    a direct python oracle rather than the DuckDB gate.
    """
    import zlib

    @F.pandas_udf("double")
    def ratio(text: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return 1.0
            return round(len(zlib.compress(b, level)) / len(b), 6)

        return text.map(one)

    return ratio


# C0 controls (minus \t \n; \r is handled as a newline first), DEL + C1,
# zero-width space/joiners, BOM-as-ZWNBSP — the characters a web-crawl
# extractor leaks into text that no tokenizer should ever see. Kept as a
# module constant so the DuckDB oracle can assert it spells the same
# class in RE2 syntax (tests pin the translation).
CONTROL_CHAR_CLASS = (
    "[\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F-\u009F"
    "\u200B-\u200D\uFEFF]"
)


def normalize_text_cols(text_col):
    """Webtext normalization bundle (C4/CCNet-style pre-tokenizer
    hygiene) as mostly-JVM column expressions:

    - ``text_norm``: CRLF/CR folded to LF, then the
      :data:`CONTROL_CHAR_CLASS` stripped (both ``regexp_replace``,
      codegen'd), then Unicode NFC composition — the only Python step,
      an Arrow-batched UDF with an ``isascii()`` fast path (ASCII is
      NFC-invariant, and most webtext bytes are ASCII, so the
      interpreter touches only the rows that can change).
    - ``had_mojibake``: U+FFFD replacement character present in the
      ORIGINAL text — the decode-failure tracer (detection only;
      "repairing" mojibake is guesswork and silently corrupts text that
      legitimately discusses it).
    - ``n_controls_removed``: how many characters the control strip
      dropped (original length minus post-strip length, newline folding
      excluded) — the audit counter for pipeline dashboards.

    NULL text stays NULL in every output (nothing to normalize; the
    quality gate decides what NULL means — gopher_verdict_cols fails it
    closed).

    Oracle parity: DuckDB replays this exactly as ``nfc_normalize`` +
    the same two RE2 ``regexp_replace`` calls — NFC is UAX #15, not an
    implementation detail, so Python ``unicodedata`` and DuckDB/utf8proc
    agree by spec.
    """
    import unicodedata

    folded = F.regexp_replace(text_col, "\r\n|\r", "\n")
    stripped = F.regexp_replace(folded, CONTROL_CHAR_CLASS, "")

    @F.pandas_udf("string")
    def nfc(text: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            if t.isascii():  # NFC-invariant: skip the normalizer
                return t
            return unicodedata.normalize("NFC", t)

        return text.map(one)

    return {
        "text_norm": nfc(stripped),
        "had_mojibake": F.when(
            text_col.isNotNull(), F.contains(text_col, F.lit("�"))
        ),
        "n_controls_removed": F.length(folded) - F.length(stripped),
    }
