"""Second-batch web-quality operators (webtext_quality.py) vs
single-threaded numpy/pandas oracles.

The driver-facing DuckDB oracles cover the full-value gate; these
tests pin the kernels against an INDEPENDENT formulation (pandas /
unicodedata / numpy) so an oracle-and-query twin bug can't hide.
"""

from __future__ import annotations

import hashlib
import unicodedata

from osm_data_classification_spark.operators.webtext_quality import (
    BOILER,
    COMPOSED,
    DECOMPOSED,
    LINE_TOKENS,
    MIN_LINE_WORDS,
    TOPK_TERMS,
    text_line_filter,
    text_normalize_unicode,
    text_tfidf_topterms,
)


def _docs_pdf(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )


# ---------------------------------------------------------------------------
# C4 line filtering
# ---------------------------------------------------------------------------


def _line_filter_oracle(doc_id: int, text: str):
    toks = text.strip().split()
    n = max((len(toks) + LINE_TOKENS - 1) // LINE_TOKENS, 1)
    lines = []
    for i in range(n):
        if (doc_id + i) % 5 == 0:
            lines.append(BOILER + ".")
        else:
            body = " ".join(toks[i * LINE_TOKENS : (i + 1) * LINE_TOKENS])
            lines.append(body + ("" if (doc_id + i) % 7 == 0 else "."))
    kept = [
        ln
        for ln in lines
        if ln.endswith(".")
        and len(ln.split(" ")) >= MIN_LINE_WORDS
        and "javascript" not in ln
    ]
    return (
        len(lines),
        len(kept),
        hashlib.md5("\n".join(kept).encode()).hexdigest(),
    )


def test_line_filter_matches_python_oracle(spark, sf_dir):
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_md5"])
        for r in text_line_filter(spark, sf_dir).collect()
    }
    pdf = _docs_pdf(spark, sf_dir)
    assert len(got) == len(pdf)
    for _, row in pdf.iterrows():
        assert got[row.doc_id] == _line_filter_oracle(row.doc_id, row.text), (
            row.doc_id
        )


def test_line_filter_every_rule_fires(spark, sf_dir):
    """The synthesized corruption must actually exercise each drop rule
    at this sf: some doc keeps 0 lines (md5('') case), some doc drops a
    boilerplate line, some drops a no-punct line."""
    rows = text_line_filter(spark, sf_dir).collect()
    assert any(r["n_kept"] == 0 for r in rows)
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert all(
        r["kept_md5"] == empty_md5 for r in rows if r["n_kept"] == 0
    )
    assert any(r["n_kept"] < r["n_lines"] for r in rows)
    assert all(r["n_kept"] <= r["n_lines"] for r in rows)


# ---------------------------------------------------------------------------
# Unicode NFC normalization
# ---------------------------------------------------------------------------


def test_nfc_matches_unicodedata(spark, sf_dir):
    assert unicodedata.normalize("NFC", DECOMPOSED) == COMPOSED
    got = {
        r["doc_id"]: r
        for r in text_normalize_unicode(spark, sf_dir).collect()
    }
    pdf = _docs_pdf(spark, sf_dir)
    for _, row in pdf.iterrows():
        suffix = (
            " " + DECOMPOSED
            if row.doc_id % 3 == 0
            else (" " + COMPOSED if row.doc_id % 3 == 1 else "")
        )
        t = row.text + suffix
        norm = unicodedata.normalize("NFC", t)
        g = got[row.doc_id]
        assert g["n_cp_dirty"] == len(t)
        assert g["n_cp_norm"] == len(norm)
        assert g["changed"] == (norm != t)
        assert g["norm_md5"] == hashlib.md5(norm.encode()).hexdigest()
    # decomposed docs must actually change; composed/ascii must not
    assert all(g["changed"] for d, g in got.items() if d % 3 == 0)
    assert not any(g["changed"] for d, g in got.items() if d % 3 != 0)


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


def test_tfidf_matches_pandas_oracle(spark, sf_dir):
    pdf = _docs_pdf(spark, sf_dir)
    toks = pdf.assign(term=pdf.text.str.strip().str.split()).explode("term")
    tf = (
        toks.groupby(["doc_id", "term"]).size().rename("tf").reset_index()
    )
    df_ = tf.groupby("term").size().rename("df").reset_index()
    m = tf.merge(df_, on="term").sort_values(
        ["doc_id", "tf", "df", "term"],
        ascending=[True, False, True, True],
        kind="mergesort",
    )
    m["rank"] = m.groupby("doc_id").cumcount() + 1
    exp = m[m["rank"] <= TOPK_TERMS]
    got = (
        text_tfidf_topterms(spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id", "rank"])
        .reset_index(drop=True)
    )
    exp = exp.sort_values(["doc_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ("doc_id", "term", "tf", "df", "rank"):
        assert (got[c].values == exp[c].values).all(), c
    # every doc contributes exactly min(TOPK, n_distinct_terms) rows
    assert (got.groupby("doc_id").size() <= TOPK_TERMS).all()


# ---------------------------------------------------------------------------
# token rarity
# ---------------------------------------------------------------------------


def test_rarity_matches_pandas_oracle(spark, sf_dir):
    from collections import Counter

    from osm_data_classification_spark.operators.webtext_quality import (
        RARE_MAX,
        text_rarity_score,
    )

    def dirty(doc_id, text):
        t = text.strip()
        if doc_id % 7 == 0:
            t += f" xh{doc_id}"
        if doc_id % 5 == 0:
            t += f" xr{doc_id // 10}"
        return t

    pdf = _docs_pdf(spark, sf_dir)
    gtf = Counter()
    for _, row in pdf.iterrows():
        gtf.update(dirty(row.doc_id, row.text).split())
    got = {r["doc_id"]: r for r in text_rarity_score(spark, sf_dir).collect()}
    assert len(got) == len(pdf)
    any_rare = any_hapax = False
    for _, row in pdf.iterrows():
        toks = dirty(row.doc_id, row.text).split()
        n_rare = sum(1 for t in toks if gtf[t] <= RARE_MAX)
        n_hapax = sum(1 for t in toks if gtf[t] == 1)
        g = got[row.doc_id]
        assert g["n_tokens"] == len(toks)
        assert g["n_rare"] == n_rare
        assert g["n_hapax"] == n_hapax
        assert g["min_gcnt"] == min(gtf[t] for t in toks)
        assert g["rarity_ppm"] == (1_000_000 * n_rare) // len(toks)
        any_rare = any_rare or n_rare > 0
        any_hapax = any_hapax or n_hapax > 0
    # the planted tokens must actually exercise both branches (the raw
    # corpus has a 31-token vocab where every token appears >= 26x)
    assert any_rare and any_hapax


# ---------------------------------------------------------------------------
# Gopher composite quality filter
# ---------------------------------------------------------------------------


def _gopher_oracle(doc_id: int, text: str):
    from osm_data_classification_spark.operators.text import STOPWORDS

    toks = text.strip().split()
    ts = []
    for i, t in enumerate(toks):
        if doc_id % 37 == 0:
            ts.append(t[:1])
        elif doc_id % 31 == 0 and i == 0:
            ts.append("x" * 600)
        elif doc_id % 29 == 0 and i % 3 == 0:
            ts.append(str(i))
        elif doc_id % 41 == 0 and i % 2 == 0:
            ts.append(t + "#")
        elif (doc_id + i) % 17 == 0:
            ts.append(t + "#")
        elif (doc_id + i) % 7 == 0:
            ts.append(str(i))
        else:
            ts.append(t)
    n = len(ts)
    mwl = sum(map(len, ts)) * 100 // n
    n_sym = sum("#" in t for t in ts)
    n_na = sum(not any("a" <= c <= "z" for c in t) for t in ts)
    n_stop = sum(t in STOPWORDS for t in ts)
    keep = (
        50 <= n <= 100_000
        and 300 <= mwl <= 1000
        and n_sym * 10 <= n
        and n_na * 5 < n
        and n_stop >= 2
    )
    return (n, mwl, n_sym, n_na, n_stop, keep)


def test_gopher_filter_matches_python_oracle(spark, sf_dir):
    from osm_data_classification_spark.operators.webtext_quality import (
        gopher_quality_filter,
    )

    got = {
        r["doc_id"]: (
            r["n_words"], r["mwl_x100"], r["n_symbol"],
            r["n_nonalpha"], r["n_stop"], r["keep"],
        )
        for r in gopher_quality_filter(spark, sf_dir).collect()
    }
    pdf = _docs_pdf(spark, sf_dir)
    assert len(got) == len(pdf)
    for _, row in pdf.iterrows():
        assert got[row.doc_id] == _gopher_oracle(row.doc_id, row.text), (
            row.doc_id
        )


def test_gopher_filter_every_rule_fires(spark, sf_dir):
    """Each of the five Gopher rules must reject at least one doc at
    this sf — a rule that never fires is dead code hiding twin bugs
    (the text_rarity_score lesson). Both mwl bounds count as rules."""
    from osm_data_classification_spark.operators.webtext_quality import (
        gopher_quality_filter,
    )

    rows = gopher_quality_filter(spark, sf_dir).collect()
    assert any(r["n_words"] < 50 for r in rows)
    assert any(r["mwl_x100"] > 1000 for r in rows)
    assert any(r["mwl_x100"] < 300 for r in rows)
    assert any(r["n_symbol"] * 10 > r["n_words"] for r in rows)
    assert any(r["n_nonalpha"] * 5 >= r["n_words"] for r in rows)
    assert any(r["n_stop"] < 2 for r in rows)
    assert any(r["keep"] for r in rows)
    assert any(not r["keep"] for r in rows)
