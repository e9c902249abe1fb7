"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count + (order-insensitive) values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("KG_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as mod
    return mod


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(rows, cols):
    """EXACT values (no tolerance) AND type-sensitive: the driver's value
    hash distinguishes 3 (int64) from 3.0 (float64 — e.g. DuckDB HUGEINT via
    pandas), so the local gate must too. numpy scalars are unwrapped with
    .item() first so int64(3) == int(3) across engines but int != float."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append((type(v).__name__, v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _compare(name, spark_df, con, sql):
    got_cols = sorted(spark_df.columns)
    got = _canon([r.asDict() for r in spark_df.collect()], got_cols)
    odf = con.execute(sql).fetchdf()
    want_cols = sorted(odf.columns.tolist())
    assert got_cols == want_cols, f"{name}: columns {got_cols} != {want_cols}"
    want = _canon(odf.to_dict("records"), want_cols)
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    mismatch = [(a, b) for a, b in zip(got, want) if a != b][:5]
    assert got == want, f"{name}: first mismatches {mismatch}"


def test_all_oracled_queries_match(spark, entry_mod, ddb):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, sql in oracles.items():
        df = qs[name](spark, SF_DIR)
        try:
            _compare(name, df, ddb, sql)
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:350]}")
    assert not failures, "\n---\n".join(failures)


def test_oracle_keys_subset_of_queries(entry_mod):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # non-oracled entries are exactly the model-pipeline / approximate ops
    assert set(qs) - set(oracles) == {
        "kg_triples", "kg_entities", "kg_linked", "kg_doc_embeddings",
        "kg_zero_shot", "kg_pagerank",
        "embedding_ann_topk", "embedding_ivf_topk",
        "kgram_cardinality_sketch",
        "gen_greedy", "summarize_beam", "translate_m2m",
        "seq_classify", "masked_fill", "qa_extractive",
        "media_image_features", "media_audio_stats", "media_video_frames",
        "keywords_mmr", "converse",
    }


def test_query_builders_take_only_spark_and_sf_dir(entry_mod):
    """A builder's settings are module constants read when its plan is
    built (e.g. queries.NGRAM_HOT_BAND_CAP, queries.EMB_K), so the
    driver's (spark, sf_dir) call is the only form a query has."""
    import inspect
    extra = {name: str(inspect.signature(fn))
             for name, fn in entry_mod.queries().items()
             if list(inspect.signature(fn).parameters) != ["spark", "sf_dir"]}
    assert not extra, extra


def test_entry_returns_rows(spark, entry_mod):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"url", "sent_idx", "subj_id", "pred",
                               "obj_id", "score"}


def test_kg_triples_match_gold(spark, entry_mod):
    """The rows-only KG query still has an exact oracle — construction-time
    gold — even though it is not SQL-expressible."""
    from kgforge.metrics import triple_pr
    from kgforge.queries import gold_for_documents, q_kg_triples

    triples = q_kg_triples(spark, SF_DIR)
    gold = gold_for_documents(spark, SF_DIR)
    pr = triple_pr(triples, gold)
    assert pr.precision >= 0.95 and pr.recall >= 0.95, pr


def test_lang_id_accuracy_on_real_language_snippets(spark, tmp_path):
    """Engine parity is gated by the oracle sweep above; this gates that the
    marker profiles actually IDENTIFY languages: real-text snippets in each
    supported language must classify correctly, and marker-free text must
    fall back to 'und'."""
    import pandas as pd
    from kgforge.queries import q_lang_id

    snippets = [
        (0, "der hund ist nicht mit der katze und das haus war da", "de"),
        (1, "the quick dog was running from this house and that tree", "en"),
        (2, "los perros y las casas una por con pero como para siempre", "es"),
        (3, "les chats une dans pour avec est qui sur la table", "fr"),
        (4, "我的朋友是不了在我这有的是好人", "zh"),
        (5, "lorem ipsum dolor sit amet consectetur adipiscing elit", "und"),
    ]
    pdf = pd.DataFrame(
        [{"doc_id": i, "text": t, "lang": lang, "source": "test",
          "n_chars": len(t)} for i, t, lang in snippets])
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r["pred_lang"]
           for r in q_lang_id(spark, sf_dir).collect()}
    want = {i: lang for i, _, lang in snippets}
    assert got == want


def test_lang_id_vertical_tab_cross_engine(spark, tmp_path):
    """U+000B regression: Java's \\s includes vertical tab, RE2's does not.
    lang_id splits on the explicit _WS_RE class so a marker word adjacent to
    a VT tokenizes identically on Spark and DuckDB (the corpus sweep can't
    catch this — the synthetic corpus is VT-free)."""
    import pandas as pd
    from kgforge.queries import _sql_lang_id, q_lang_id

    pdf = pd.DataFrame([
        {"doc_id": 0, "text": "the\x0band was that with have", "lang": "en",
         "source": "t", "n_chars": 26},
        {"doc_id": 1, "text": "der\x0bhund und die katze", "lang": "de",
         "source": "t", "n_chars": 22},
    ])
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    got = q_lang_id(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    sql = _sql_lang_id()
    want = con.execute(sql).fetchdf().to_dict("records")
    gmap = {r["doc_id"]: (r["c_en"], r["c_de"], r["pred_lang"]) for r in got}
    wmap = {r["doc_id"]: (r["c_en"], r["c_de"], r["pred_lang"]) for r in want}
    assert gmap == wmap
    assert gmap[0][2] == "en" and gmap[1][2] == "de"


def test_kgram_cardinality_sketch_error_bound(spark):
    """HLL lgK=12 promises ~1.6% relative standard error; gate every row
    (per-lang AND the sketch-union 'ALL' row) at 3%, and the union row must
    dominate every per-lang cardinality."""
    from kgforge.queries import q_kgram_cardinality_sketch

    rows = q_kgram_cardinality_sketch(spark, SF_DIR).collect()
    assert {r["lang"] for r in rows} >= {"ALL", "en"}
    per_lang_max = 0
    for r in rows:
        err = abs(r["approx_distinct"] - r["exact_distinct"]) \
            / max(r["exact_distinct"], 1)
        assert err <= 0.03, (r["lang"], err)
        if r["lang"] != "ALL":
            per_lang_max = max(per_lang_max, r["approx_distinct"])
    all_row = next(r for r in rows if r["lang"] == "ALL")
    assert all_row["approx_distinct"] >= per_lang_max


def test_neardup_clusters_with_no_pairs(spark, tmp_path):
    """Edge: a corpus with no near-duplicate pairs sends ZERO edges into
    connected_components — every doc must come back as its own singleton
    keeper (exercises CC's empty-edge convergence path end-to-end)."""
    import pandas as pd
    from kgforge.queries import q_neardup_clusters

    pdf = pd.DataFrame([
        {"doc_id": i, "text": t, "lang": "en", "source": "t", "n_chars": len(t)}
        for i, t in enumerate([
            "alpha beta gamma delta epsilon zeta",
            "one two three four five six seven",
            "red orange yellow green blue indigo",
        ])])
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
            for r in q_neardup_clusters(spark, str(tmp_path)).collect()}
    assert rows == {0: (0, True), 1: (1, True), 2: (2, True)}


def test_neardup_clusters_exact_above_2_53(spark, tmp_path, monkeypatch):
    """Doc ids past 2^53 must come back exact on both CC branches: any
    float64 step on the way would round 2^53 + 1 to 2^53 and 2^53 + 3 to
    2^53 + 4. Two duplicate-text clusters and one singleton."""
    import pandas as pd
    from kgforge import queries as q

    base = 2 ** 53
    texts = {base + 1: "alpha beta gamma delta epsilon zeta",
             base + 3: "alpha beta gamma delta epsilon zeta",
             base + 2: "one two three four five six seven",
             base + 7: "red orange yellow green blue indigo",
             base + 5: "red orange yellow green blue indigo"}
    pd.DataFrame([
        {"doc_id": i, "text": t, "lang": "en", "source": "t", "n_chars": len(t)}
        for i, t in texts.items()]).to_parquet(f"{tmp_path}/documents.parquet")
    want = {base + 1: (base + 1, True), base + 3: (base + 1, False),
            base + 2: (base + 2, True),
            base + 5: (base + 5, True), base + 7: (base + 5, False)}
    for threshold in (q.canon.COLLECT_THRESHOLD, 0):
        monkeypatch.setattr(q.canon, "COLLECT_THRESHOLD", threshold)
        rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
                for r in q.q_neardup_clusters(spark, str(tmp_path)).collect()}
        assert rows == want, threshold


def test_new_event_queries_on_degenerate_events(spark, tmp_path):
    """Edges for the event-analytics family: no 'view' events (funnel all
    zeros), a single-event type (median of one), and event types absent
    from the pivot list (zero columns stay zero)."""
    import pandas as pd
    from kgforge.queries import (q_exact_median, q_funnel_conversion,
                                 q_pivot_event_counts)

    ev = pd.DataFrame([
        {"event_id": 0, "ts": pd.Timestamp("2024-01-01 00:00:00"),
         "user_id": 1, "event_type": "error", "value": 5.0, "props": '{"k": 1}'},
        {"event_id": 1, "ts": pd.Timestamp("2024-01-01 01:00:00"),
         "user_id": 1, "event_type": "signup", "value": 7.5, "props": '{"k": 2}'},
    ])
    # Spark cannot read parquet TIMESTAMP(NANOS) — write microseconds
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(f"{tmp_path}/events.parquet")
    sf = str(tmp_path)

    funnel = {r["stage"]: r["n_users"]
              for r in q_funnel_conversion(spark, sf).collect()}
    assert funnel == {"1_view": 0, "2_click": 0, "3_purchase": 0}

    med = {r["event_type"]: (r["median_value"], r["n_events"])
           for r in q_exact_median(spark, sf).collect()}
    assert med == {"error": (5.0, 1), "signup": (7.5, 1)}

    piv = {r["user_id"]: (r["n_click"], r["n_error"], r["n_signup"], r["n_view"])
           for r in q_pivot_event_counts(spark, sf).collect()}
    assert piv == {1: (0, 1, 1, 0)}


def test_asof_and_quantiles_on_degenerate_events(spark, tmp_path):
    """Edges: a purchase with no prior view joins nothing (inner-asof), a
    view AFTER the purchase must not match, a same-instant view MUST match
    (v.ts <= p.ts); quantiles of a single-row group all pick that row."""
    import pandas as pd
    from kgforge.queries import q_asof_join, q_exact_quantiles

    ts = pd.Timestamp
    ev = pd.DataFrame([
        # user 1: view -> purchase (match, lag 3600s)
        {"event_id": 0, "ts": ts("2024-01-01 00:00:00"), "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 1, "ts": ts("2024-01-01 01:00:00"), "user_id": 1,
         "event_type": "purchase", "value": 2.0, "props": "{}"},
        # user 2: purchase BEFORE its only view -> no match
        {"event_id": 2, "ts": ts("2024-01-01 00:00:00"), "user_id": 2,
         "event_type": "purchase", "value": 3.0, "props": "{}"},
        {"event_id": 3, "ts": ts("2024-01-01 02:00:00"), "user_id": 2,
         "event_type": "view", "value": 4.0, "props": "{}"},
        # user 3: same-instant view and purchase -> match, lag 0
        {"event_id": 4, "ts": ts("2024-01-01 05:00:00"), "user_id": 3,
         "event_type": "view", "value": 5.0, "props": "{}"},
        {"event_id": 5, "ts": ts("2024-01-01 05:00:00"), "user_id": 3,
         "event_type": "purchase", "value": 6.0, "props": "{}"},
    ])
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(f"{tmp_path}/events.parquet")
    sf = str(tmp_path)

    rows = {r["purchase_id"]: r["lag_sec"]
            for r in q_asof_join(spark, sf).collect()}
    assert rows == {1: 3600.0, 5: 0.0}          # purchase 2 absent

    got = {(r["event_type"], r["pct"]): (r["q_value"], r["n_events"])
           for r in q_exact_quantiles(spark, sf).collect()}
    # single-value groups: every pct picks the one row (rank 1)
    for pct in (25, 50, 75, 90):
        assert got[("purchase", pct)][1] == 3
    # 3 purchases sorted: 2.0, 3.0, 6.0 -> p25 ceil(.75)=1 -> 2.0,
    # p50 ceil(1.5)=2 -> 3.0, p75 ceil(2.25)=3 -> 6.0, p90 ceil(2.7)=3 -> 6.0
    assert got[("purchase", 25)][0] == 2.0
    assert got[("purchase", 50)][0] == 3.0
    assert got[("purchase", 75)][0] == 6.0
    assert got[("purchase", 90)][0] == 6.0


def test_neardup_distributed_branch_matches_driver_branch(spark, monkeypatch):
    """The scale-adaptive switch must be value-neutral: forcing the
    distributed large-star/small-star branch (threshold 0) yields exactly
    the rows the driver union-find branch produces."""
    from kgforge import queries as q

    want = sorted((r["doc_id"], r["cluster_id"], r["is_keeper"])
                  for r in q.q_neardup_clusters(spark, SF_DIR).collect())
    monkeypatch.setattr(q.canon, "COLLECT_THRESHOLD", 0)
    got = sorted((r["doc_id"], r["cluster_id"], r["is_keeper"])
                 for r in q.q_neardup_clusters(spark, SF_DIR).collect())
    assert got == want and len(got) > 0


def test_neardup_driver_branch_is_one_sql_execution(spark):
    """Building q_neardup_clusters on the driver branch runs one SQL
    execution: the Arrow download of the pairs that picks the CC branch
    and feeds union-find (no persist + count() beside it)."""
    from kgforge import queries as q
    from test_pipeline_e2e import _last_execution_id

    first = _last_execution_id(spark)
    out = q.q_neardup_clusters(spark, SF_DIR)
    assert _last_execution_id(spark) - first == 1
    assert out.where("NOT is_keeper").count() > 0      # pairs were clustered


def test_mixture_sample_absent_and_unregistered_sources(spark, tmp_path):
    """A registered source with zero documents (src9) is left out of T on
    both engines, and a source missing from MIXTURE_PARTS gets no quota:
    Spark must equal DuckDB and keep no row of the unregistered source."""
    import pandas as pd

    from kgforge.queries import _sql_mixture_sample, q_mixture_sample

    sources = [f"src{i}" for i in range(9)] + ["unregistered"]
    pd.DataFrame([
        {"doc_id": i, "text": f"doc {i}", "lang": "en",
         "source": sources[i % len(sources)], "n_chars": 5}
        for i in range(400)]).to_parquet(f"{tmp_path}/documents.parquet")
    got = q_mixture_sample(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    _compare("mixture_sample", got, con, _sql_mixture_sample())
    kept = {r["source"] for r in got.collect()}
    assert kept and kept <= set(sources[:9]), kept


def test_pack_manifest_empty_doc_edge_and_continuity(spark, tmp_path, ddb):
    """Zero-token documents must occupy zero tokens of the packed stream
    (offset continuity: next offset == offset + n_tokens) while still
    getting a well-formed one-block span (last_block == first_block via
    the greatest(n_tokens, 1) guard) — pinned against DuckDB on a crafted
    corpus with empty, whitespace-only, and boundary-straddling docs."""
    import os

    import pandas as pd

    from kgforge.queries import PACK_BLOCK, q_pack_manifest
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "text": ["w " * (PACK_BLOCK - 3),   # ends 3 short of block 0's edge
                 "",                          # zero tokens
                 "   ",                       # whitespace-only: zero tokens
                 "a b c d e f",               # straddles the block boundary
                 "tail doc"],
        "lang": ["en"] * 5, "source": ["s"] * 5, "n_chars": [1] * 5,
    })
    docs.to_parquet(f"{sf}/documents.parquet")
    got = (q_pack_manifest(spark, sf).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    # continuity: offsets are the exclusive prefix sum of n_tokens
    assert list(got["offset"]) == list(
        got["n_tokens"].cumsum() - got["n_tokens"])
    # empty docs: zero width, single well-formed block
    for i in (1, 2):
        assert got.loc[i, "n_tokens"] == 0
        assert got.loc[i, "first_block"] == got.loc[i, "last_block"]
    # doc 3 starts 3 tokens before the block edge and is 6 long: straddles
    assert (got.loc[3, "first_block"], got.loc[3, "last_block"]) == (0, 1)
    assert got.loc[3, "offset_in_block"] == PACK_BLOCK - 3
    # cross-engine parity on the same crafted corpus
    import duckdb
    from kgforge.queries import SQL_PACK_MANIFEST
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
    want = (con.execute(SQL_PACK_MANIFEST).df()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)],
        check_dtype=False)
