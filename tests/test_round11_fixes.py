"""Round-11 tests: the ExactSubstr APPLY step (trimmed corpus,
canonical-occurrence semantics) and the cross-source attribution
report, plus the ADVICE r10 assertion that doc_stats emits EVERY
document including clean ones (#3).  The LSH-coverage assertion (#1)
lives in tests/test_dedup_pairs.py."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------- apply

def _apply_py(texts: list[str], min_len: int) -> dict[int, tuple[int, int, str]]:
    """Pure-Python ExactSubstr apply reference: canonical = corpus-wide
    first (doc, pos) per window; a token is cut iff covered by a
    non-canonical duplicated window."""
    toks = {i: t.lower().split() for i, t in enumerate(texts)}
    occ: dict[tuple, list] = {}
    for i in sorted(toks):
        w = toks[i]
        for p in range(len(w) - min_len + 1):
            occ.setdefault(tuple(w[p : p + min_len]), []).append((i, p))
    cut: dict[int, set] = {i: set() for i in toks}
    for lst in occ.values():
        if len(lst) < 2:
            continue
        for i, p in sorted(lst)[1:]:
            cut[i].update(range(p, p + min_len))
    out = {}
    for i, w in toks.items():
        kept = [tok for j, tok in enumerate(w) if j not in cut[i]]
        out[i] = (len(w), len(kept), " ".join(kept))
    return out


def test_exact_substring_apply_matches_python_reference(spark):
    from qaapi_spark.operators.dedup import exact_substring_apply

    passage = "alpha beta gamma delta"  # 4 tokens = one full window at L=4
    texts = [
        f"unique one {passage} tail words here",        # canonical owner
        f"other prefix {passage} and different suffix",  # loses the passage
        f"{passage} {passage}",                          # self-repeat: 2nd copy cut
        "totally clean document with no duplicates at all",
        "short doc",                                     # below window length
        f"{passage}",                                    # fully duplicated, all cut
    ]
    want = _apply_py(texts, 4)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["text_dedup"])
        for r in exact_substring_apply(df, 4).collect()
    }
    assert got == want
    # the fixture exercises every edge: a doc losing everything...
    assert got[5][1] == 0 and got[5][2] == ""
    # ...a clean doc passing through normalized...
    assert got[3][2] == texts[3]
    # ...and the canonical occurrence surviving in the first doc
    assert passage in got[0][2]


def test_exact_substring_apply_invariants_on_corpus(spark):
    """On the smoke corpus: every doc appears; kept text re-tokenizes
    to exactly n_kept tokens; cut tokens never exceed the doc_stats
    duplicated-token count (cut positions are a subset of duplicated
    positions — the canonical copies are the difference)."""
    from qaapi_spark.operators.dedup import (
        exact_substring_apply,
        exact_substring_doc_stats,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ap = exact_substring_apply(d, 10)
    st = exact_substring_doc_stats(d, 10)
    j = ap.join(st, "doc_id").select(
        "doc_id", ap.n_toks, "n_kept", "text_dedup", "n_dup_toks"
    )
    rows = j.collect()
    assert len(rows) == d.count()
    for r in rows:
        retok = len(r["text_dedup"].split()) if r["text_dedup"] else 0
        assert retok == r["n_kept"]
        assert 0 <= r["n_kept"] <= r["n_toks"]
        assert r["n_toks"] - r["n_kept"] <= r["n_dup_toks"]
    # the corpus has known duplicates — the apply step must cut SOMETHING
    assert any(r["n_kept"] < r["n_toks"] for r in rows)


def test_exact_substring_doc_stats_includes_clean_docs(spark):
    """ADVICE r10 #3: clean and sub-window docs appear with zeros."""
    from qaapi_spark.operators.dedup import exact_substring_doc_stats

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h i j k l"),  # full dup of 1
            (3, "completely different clean text here today ok fine yes sure"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in exact_substring_doc_stats(df, 10).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[3]["n_dup_toks"] == 0 and got[3]["dup_frac"] == 0.0
    assert got[4]["n_dup_toks"] == 0 and got[4]["dup_frac"] == 0.0
    assert got[1]["n_dup_toks"] == 12 and got[2]["n_dup_toks"] == 12


# ---------------------------------------------------------- attribution

def test_exact_substring_attribution_totals(spark):
    """Sum of attributed window occurrences == total duplicated
    occurrences minus one canonical per distinct window."""
    from qaapi_spark.operators.dedup import (
        _dup_window_positions,
        exact_substring_attribution,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    att = exact_substring_attribution(d, 10).collect()
    dpos = _dup_window_positions(d, 10, "text", "doc_id")
    total_occ = dpos.count()
    n_windows_distinct = dpos.select("h").distinct().count()
    assert sum(r["n_windows"] for r in att) == total_occ - n_windows_distinct
    for r in att:
        assert r["n_distinct_windows"] <= r["n_windows"]
        assert r["n_borrower_docs"] >= 1 and r["n_owner_docs"] >= 1


def test_exact_substring_attribution_direction(spark):
    """The canonical (min doc_id) owner is credited; the later copy
    borrows — including the intra-source diagonal."""
    from qaapi_spark.operators.dedup import exact_substring_attribution

    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, f"{shared} plus owner prose", "src_a"),
            (2, f"prefix text {shared}", "src_b"),
            (3, f"{shared} again here", "src_b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["borrower_source"], r["owner_source"]): r["n_windows"]
        for r in exact_substring_attribution(df, 10).collect()
    }
    # docs 2 and 3 both borrow the 10-token window canonical in doc 1
    assert got == {("src_b", "src_a"): 2}
