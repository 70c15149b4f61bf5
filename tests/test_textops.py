"""Edge cases for the canonical extractor and text analysis functions."""

import re
import sys

import pytest
from pyspark.sql import functions as F

from statefulstreamprocessor_spark.functions.textops import (
    extract_text,
    lang_id_py,
    winnow_fingerprints,
)


@pytest.mark.parametrize(
    "html, want",
    [
        (b"", ""),
        (None, ""),
        (b"plain text no tags", "plain text no tags"),
        (b"<p>a</p><p>b</p>", "a b"),
        (b"<script>var x = '<p>not text</p>';</script>real", "real"),
        (b"<style>p { color: red }</style>styled", "styled"),
        (b"<SCRIPT>upper</SCRIPT>kept", "kept"),
        (b"a &amp; b &lt;c&gt;", "a & b <c>"),
        (b"  lots\n\n of \t whitespace  ", "lots of whitespace"),
        ("<p>unicode é中文</p>".encode(), "unicode é中文"),
        (b"<div class='x' data-y=\"z\">attrs</div>", "attrs"),
        # unclosed tags are not tags — kept verbatim (the function is the
        # spec; generator oracle and UDF share it byte-for-byte)
        (b"broken <div unclosed", "broken <div unclosed"),
        (b"\xff\xfe invalid utf8 <b>x</b>", "�� invalid utf8 x"),
    ],
)
def test_extract_text_edges(html, want):
    assert extract_text(html) == want


def test_whitespace_collapse_matches_regex_on_every_code_point():
    """extract_text collapses whitespace exactly as the reference
    ``re.sub(r"\\s+", " ", text).strip()``: checked for every
    non-surrogate code point (bar the markup characters ``<`` and ``&``),
    alone between letters and in one contiguous run."""
    chars = [
        chr(c) for c in range(sys.maxunicode + 1)
        if not 0xD800 <= c <= 0xDFFF and chr(c) not in "<&"
    ]
    ws = re.compile(r"\s+")
    for text in ("a".join(chars), "".join(chars), " " + "".join(chars) + " "):
        assert extract_text(text.encode()) == ws.sub(" ", text).strip()


def test_extract_text_nested_script_not_greedy():
    # two script blocks must not swallow the text between them
    h = b"<script>a</script>KEEP<script>b</script>"
    assert extract_text(h) == "KEEP"


def test_lang_id_heuristic():
    assert lang_id_py("the cat and the dog is in that house") == "en"
    assert lang_id_py("der hund ist nicht mit der katze") == "de"
    assert lang_id_py("le chat est dans la maison pour une nuit") == "fr"
    assert lang_id_py("") == "und"
    assert lang_id_py("zzz qqq xxx") == "und"


def test_bpe_token_count_edges(spark):
    from statefulstreamprocessor_spark.functions.textops import (
        bpe_token_count_col,
    )
    import pyspark.sql.functions as F

    rows = [
        ("hello world", 2),
        ("don't stop", 4),          # don + ' + t + stop
        ("a1b2", 4),                # letter/digit boundaries split
        ("  spaced   out  ", 2),
        ("", 0),
        ("42!!", 2),
        ("é é", 2),                 # non-ASCII letters fall in [^A-Za-z0-9\s]+
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["t"])
    got = [
        r["n"] for r in df.select(bpe_token_count_col(F.col("t")).alias("n")).collect()
    ]
    assert got == [n for _, n in rows]
    # DuckDB parity on the same strings (engine-portable pattern)
    import duckdb

    con = duckdb.connect()
    for t, n in rows:
        (dn,) = con.execute(
            "select len(regexp_extract_all(?, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))",
            [t],
        ).fetchone()
        assert dn == n, (t, dn, n)


def test_winnow_udf_matches_python_oracle(spark):
    from statefulstreamprocessor_spark.functions.textops import (
        winnow_fingerprints_udf,
    )
    from statefulstreamprocessor_spark.shipping import ensure_package_shipped
    import pyspark.sql.functions as F

    ensure_package_shipped(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    got = {
        r["doc_id"]: list(r["fp"])
        for r in docs.select(
            "doc_id", winnow_fingerprints_udf()(F.col("text")).alias("fp")
        ).collect()
    }
    for r in docs.collect():
        want = [
            x - (1 << 64) if x >= (1 << 63) else x
            for x in winnow_fingerprints(r["text"])
        ]
        assert got[r["doc_id"]] == want
        assert len(want) > 0


def test_winnow_fingerprints_properties():
    a = winnow_fingerprints("the quick brown fox jumps over the lazy dog")
    b = winnow_fingerprints("the quick brown fox jumps over the lazy dog")
    assert a == b and len(a) > 0  # deterministic
    # local change perturbs only some fingerprints (winnowing locality)
    c = winnow_fingerprints("the quick brown fox jumps over the lazy cat")
    assert set(a) & set(c), "common prefix should share fingerprints"
    assert a != c
    assert winnow_fingerprints("") == []
    assert winnow_fingerprints("ab") == []


def test_fused_md5_udf_matches_jvm_md5(spark):
    """html_to_text_md5_udf must be bit-identical to
    F.md5(html_to_text_udf(html)) — same extraction, same UTF-8 md5 —
    while shipping only the 32-char digest across the Arrow boundary."""
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import (
        html_to_text_md5_udf,
        html_to_text_udf,
    )

    rows = [
        (i, f"<p>doc {i}</p><script>x</script> body &amp; tail {i * 7}".encode())
        for i in range(200)
    ] + [(1000, b""), (1001, None), (1002, "<p>unicode é中文</p>".encode())]
    df = spark.createDataFrame(rows, "id long, html binary")
    bad = df.select(
        html_to_text_md5_udf("html").alias("fused"),
        F.md5(F.encode(html_to_text_udf("html"), "utf-8")).alias("jvm"),
    ).filter(F.col("fused") != F.col("jvm")).count()
    assert bad == 0


def test_pii_scrub_cols(spark):
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import pii_scrub_cols

    rows = [
        (0, "reach me at jane.doe+spam@sub.example.co.uk or bob@x.io today"),
        (1, "call 555-123-4567 or 555-987-6543 now"),
        (2, "mixed a@b.com then 123-456-7890 done"),
        (3, "no pii here at all"),
        (4, ""),
        # digits inside an email's host are consumed by the EMAIL pass
        # first, so they never double-count as a phone
        (5, "x@555-123-4567mail.com"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    p = pii_scrub_cols(F.col("t"))
    got = {
        r["id"]: (r["e"], r["p"], r["s"])
        for r in df.select(
            "id",
            p["n_emails"].alias("e"),
            p["n_phones"].alias("p"),
            p["scrubbed"].alias("s"),
        ).collect()
    }
    assert got[0] == (2, 0, "reach me at <EMAIL> or <EMAIL> today")
    assert got[1] == (0, 2, "call <PHONE> or <PHONE> now")
    assert got[2] == (1, 1, "mixed <EMAIL> then <PHONE> done")
    assert got[3] == (0, 0, "no pii here at all")
    assert got[4] == (0, 0, "")
    assert got[5] == (1, 0, "<EMAIL>")


def test_url_parts_and_normalize(spark):
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.urlops import (
        normalize_url_col,
        url_parts_cols,
    )

    rows = [
        (0, "https://www.Example.COM/a/b/?utm_source=x&id=7&utm_campaign=y#top"),
        (1, "HTTP://example.com"),
        (2, "https://example.com/"),
        (3, "https://sub.example.com/p?ref=abc"),
        (4, "https://example.com/p?id=1&ref=abc&x=2"),
        (5, "https://example.com/p/q/"),
        (6, "https://example.com/?utm_a=1&utm_b=2"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    p = url_parts_cols(F.col("url"))
    got = {
        r["id"]: (r["h"], r["pa"], r["q"], r["n"])
        for r in df.select(
            "id",
            p["host"].alias("h"),
            p["path"].alias("pa"),
            p["query"].alias("q"),
            normalize_url_col(F.col("url")).alias("n"),
        ).collect()
    }
    assert got[0] == ("example.com", "/a/b", "id=7", "https://example.com/a/b?id=7")
    assert got[1] == ("example.com", "/", "", "https://example.com/")
    assert got[2] == ("example.com", "/", "", "https://example.com/")
    assert got[3] == ("sub.example.com", "/p", "", "https://sub.example.com/p")
    assert got[4] == ("example.com", "/p", "id=1&x=2", "https://example.com/p?id=1&x=2")
    assert got[5] == ("example.com", "/p/q", "", "https://example.com/p/q")
    assert got[6] == ("example.com", "/", "", "https://example.com/")


def test_url_parts_randomized_vs_python_predictor(spark):
    """200 seeded-random urls (scheme case, www, ports, empty/deep paths,
    trailing slashes, utm/ref params in any position, fragments) checked
    against an independent pure-python predictor built from the SAME
    component values (not the same regexes) — catches any divergence
    between the regex pipeline and the intended semantics."""
    import random

    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.urlops import (
        normalize_url_col,
        url_parts_cols,
    )

    rng = random.Random(42)
    rows, want = [], {}
    for i in range(200):
        scheme = rng.choice(["http", "https", "HTTP", "HtTpS"])
        www = rng.random() < 0.3
        host = rng.choice(["Example.COM", "sub.site.org", "a-b.net:8080"])
        segs = [rng.choice(["p", "q2", "x-y"]) for _ in range(rng.randrange(0, 3))]
        trailing = rng.random() < 0.3 and segs
        params = []
        for _ in range(rng.randrange(0, 4)):
            kind = rng.randrange(3)
            if kind == 0:
                params.append(f"utm_{rng.choice(['source', 'x'])}={rng.randrange(99)}")
            elif kind == 1:
                params.append(f"ref=abc{rng.randrange(9)}")
            else:
                params.append(f"k{rng.randrange(5)}=v{rng.randrange(9)}")
        frag = rng.random() < 0.3
        url = f"{scheme}://{'www.' if www else ''}{host}"
        if segs:
            url += "/" + "/".join(segs) + ("/" if trailing else "")
        if params:
            url += "?" + "&".join(params)
        if frag:
            url += "#sec"
        rows.append((i, url))
        # independent predictor from the components
        p_host = host.lower()
        p_path = "/" + "/".join(segs) if segs else "/"
        kept = [p for p in params if not (p.startswith("utm_") or p.startswith("ref="))]
        p_query = "&".join(kept)
        want[i] = (
            p_host,
            p_path,
            p_query,
            f"https://{p_host}{p_path}" + (f"?{p_query}" if p_query else ""),
        )
    df = spark.createDataFrame(rows, "id long, url string")
    p = url_parts_cols(F.col("url"))
    got = {
        r["id"]: (r["h"], r["pa"], r["q"], r["n"])
        for r in df.select(
            "id",
            p["host"].alias("h"),
            p["path"].alias("pa"),
            p["query"].alias("q"),
            normalize_url_col(F.col("url")).alias("n"),
        ).collect()
    }
    assert got == want


def test_pii_scrub_randomized_vs_python(spark):
    """Seeded-random text with planted emails/phones at random positions;
    counts and redacted text must match an independent python re pass
    (same patterns, python engine)."""
    import random
    import re as _re

    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import (
        PII_EMAIL_PATTERN,
        PII_PHONE_PATTERN,
        pii_scrub_cols,
    )

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "x9", "z.z"]
    rows = []
    for i in range(150):
        toks = [rng.choice(words) for _ in range(rng.randrange(2, 10))]
        for _ in range(rng.randrange(0, 3)):
            kind = rng.randrange(2)
            pos = rng.randrange(len(toks) + 1)
            if kind == 0:
                toks.insert(pos, f"u{rng.randrange(99)}@ex{rng.randrange(9)}.com")
            else:
                toks.insert(pos, f"{rng.randrange(100, 999)}-{rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "id long, t string")
    p = pii_scrub_cols(F.col("t"))
    got = {
        r["id"]: (r["e"], r["p"], r["s"])
        for r in df.select(
            "id",
            p["n_emails"].alias("e"),
            p["n_phones"].alias("p"),
            p["scrubbed"].alias("s"),
        ).collect()
    }
    for i, t in rows:
        ne = len(_re.findall(PII_EMAIL_PATTERN, t))
        t2 = _re.sub(PII_EMAIL_PATTERN, "<EMAIL>", t)
        np_ = len(_re.findall(PII_PHONE_PATTERN, t2))
        t3 = _re.sub(PII_PHONE_PATTERN, "<PHONE>", t2)
        assert got[i] == (ne, np_, t3), (i, t)


def test_gopher_verdict_cols(spark):
    """Each rule fires independently with its auditable reason; a clean
    prose-like doc keeps."""
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import (
        gopher_verdict_cols,
    )

    good = "the " + " ".join(f"word{i}" for i in range(60))
    rows = [
        (0, good),                                   # keep
        (1, "the quick fox"),                        # too few tokens
        (2, "the " + " ".join(["x"] * 60)),          # mean token len low
        (3, " ".join(f"word{i}" for i in range(60))),  # no stopwords
        (4, "a " + " ".join(["abcdefghijklmnop"] * 60)),  # mean len high + no stopword
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    v = gopher_verdict_cols(
        F.col("t"), min_tokens=40, min_stopword_hits=1
    )
    got = {
        r["id"]: (r["keep"], r["drop_reasons"])
        for r in df.select(
            "id", v["keep"].alias("keep"),
            v["drop_reasons"].alias("drop_reasons"),
        ).collect()
    }
    assert got[0] == (True, "")
    assert got[1] == (False, "too_few_tokens")
    assert got[2] == (False, "mean_token_len_low")
    assert got[3] == (False, "too_few_stopwords")
    assert got[4] == (False, "mean_token_len_high,too_few_stopwords")


def test_gopher_verdict_null_text_fails_closed(spark):
    """NULL text must DROP with reason null_text, never silently keep:
    every other rule's condition is NULL on NULL input and concat_ws
    skips NULLs, so without the explicit rule an unscoreable document
    sails through a corpus-cleaning filter (ADVICE round-4)."""
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import (
        gopher_verdict_cols,
    )

    good = "the " + " ".join(f"word{i}" for i in range(60))
    df = spark.createDataFrame([(0, good), (1, None)], "id long, t string")
    v = gopher_verdict_cols(F.col("t"), min_tokens=40, min_stopword_hits=1)
    got = {
        r["id"]: (r["keep"], r["drop_reasons"])
        for r in df.select(
            "id", v["keep"].alias("keep"),
            v["drop_reasons"].alias("drop_reasons"),
        ).collect()
    }
    assert got[0] == (True, "")
    assert got[1] == (False, "null_text")


def test_gopher_verdict_language_parameter(spark):
    """The stopword prose test follows lang=/stopwords=: a German doc
    keeps under lang='de' but fails too_few_stopwords under the English
    default (the round-4 hardcoded-English trap); an explicit stopword
    list wins outright; unknown lang raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import (
        gopher_verdict_cols,
    )

    german = "und " + " ".join(f"wort{i}" for i in range(60))
    df = spark.createDataFrame([(0, german)], "id long, t string")

    def verdict(**kw):
        v = gopher_verdict_cols(
            F.col("t"), min_tokens=40, min_stopword_hits=1, **kw
        )
        return df.select(
            v["keep"].alias("keep"), v["drop_reasons"].alias("r")
        ).first()

    en = verdict()
    assert (en["keep"], en["r"]) == (False, "too_few_stopwords")
    de = verdict(lang="de")
    assert (de["keep"], de["r"]) == (True, "")
    custom = verdict(stopwords=["wort1", "wort2"])
    assert custom["keep"]
    with _pytest.raises(ValueError, match="no built-in stopword list"):
        gopher_verdict_cols(F.col("t"), lang="xx")


def test_compression_ratio_udf(spark):
    """Compression-ratio quality signal == direct zlib oracle; repetitive
    text reads far lower than varied text; NULL/empty handled."""
    import zlib

    from pyspark.sql import functions as F

    from statefulstreamprocessor_spark.functions.textops import (
        compression_ratio_udf,
    )

    varied = " ".join(f"w{i * 7919 % 1000}x{i}" for i in range(300))
    boiler = "HOME ABOUT CONTACT " * 100
    rows = [(0, varied), (1, boiler), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "id long, t string")
    r = compression_ratio_udf()
    got = {
        row["id"]: row["r"]
        for row in df.select("id", r(F.col("t")).alias("r")).collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i] is None
        elif t == "":
            assert got[i] == 1.0
        else:
            b = t.encode()
            assert got[i] == round(len(zlib.compress(b, 6)) / len(b), 6), i
    # the redundancy signal: boilerplate compresses far better
    assert got[1] < got[0] * 0.5, (got[0], got[1])


def test_normalize_text_cols(spark):
    import unicodedata

    from statefulstreamprocessor_spark.functions.textops import (
        normalize_text_cols,
    )

    rows = [
        (0, "plain ascii"),
        (1, "zero\u200bwidth\u200c\u200d joined\ufeff"),
        (2, "café combining"),          # NFC composes
        (3, "ctrl\x01\x02\x03 chars\x7f\x9f"),
        (4, "a\r\nb\rc\nd"),                  # newline folding, no loss
        (5, "moji\ufffdbake"),
        (6, None),
        (7, ""),
        (8, "keep \t tab \n newline"),        # \t \n survive the strip
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    cols = normalize_text_cols(F.col("t"))
    got = {
        r["id"]: (r["n"], r["m"], r["c"])
        for r in df.select(
            "id",
            cols["text_norm"].alias("n"),
            cols["had_mojibake"].alias("m"),
            cols["n_controls_removed"].alias("c"),
        ).collect()
    }
    assert got[0] == ("plain ascii", False, 0)
    assert got[1] == ("zerowidth joined", False, 4)
    assert got[2] == (
        unicodedata.normalize("NFC", "café combining"), False, 0
    )
    assert "\u0301" not in got[2][0] and "caf\xe9" in got[2][0]
    assert got[3] == ("ctrl chars", False, 5)
    assert got[4] == ("a\nb\nc\nd", False, 0)   # folding is not "removed"
    assert got[5] == ("moji\ufffdbake", True, 0)  # FFFD is NOT stripped
    assert got[6] == (None, None, None)
    assert got[7] == ("", False, 0)
    assert got[8] == ("keep \t tab \n newline", False, 0)


def test_control_char_class_matches_re2_spelling():
    """The DuckDB oracle spells CONTROL_CHAR_CLASS in RE2 \\x{...}
    syntax; pin the two spellings to the same codepoint set."""
    import re

    from statefulstreamprocessor_spark.functions.textops import (
        CONTROL_CHAR_CLASS,
    )

    probe = set(range(0x2100)) | {0xFEFF, 0xFFFD, 0x10000}
    java_set = {
        cp for cp in probe if re.match(CONTROL_CHAR_CLASS, chr(cp))
    }
    re2_set = (
        set(range(0x00, 0x09)) | {0x0B, 0x0C} | set(range(0x0E, 0x20))
        | set(range(0x7F, 0xA0)) | set(range(0x200B, 0x200E)) | {0xFEFF}
    )
    assert java_set == re2_set
