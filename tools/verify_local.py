"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` twin on DuckDB, then compares row count, column
names, and an order-insensitive value hash (columns sorted by name,
rows sorted by their full value tuple, floats rounded to 9 sig
places before hashing to absorb last-bit noise the real driver may or
may not tolerate — we aim for exact anyway). A hash-gated entry that
returns 0 rows FAILS: an empty result matches an empty oracle
trivially. An entry that leaves a persisted RDD behind after
``release_cached`` FAILS too (``leaked_rdds`` in the report): the
catalog runs in long-lived sessions, where every leaked cache or
local checkpoint stays pinned. Ids are compared, not counts — the
ContextCleaner may drop older RDDs meanwhile.

Usage: python tools/verify_local.py [--json out.json] [query ...]

``--json`` additionally writes a driver-shaped report (one object per
entry with rows_match/schema_match/hash_match/spark_rows/oracle_rows/
err) so the full-catalog gate is a committed, reproducible artifact —
the driver's CORRECTNESS file covers a fixed 50-entry subset; this
covers every entry.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    normed = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in normed:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


# --------------------------------------------------------------- banded gates
#
# Sketch-based entries have no exact cross-engine oracle, but they DO
# have a documented error bound — check it instead of settling for
# rows-only (VERDICT r7 #5).

_PA_ACCURACY = 10000  # Spark percentile_approx default


def _check_quantile_approx(con, scols, srows):
    """agg_quantile_sketch: Spark's percentile_approx guarantees rank
    error <= n/accuracy. Gate: each group's p50/p95 must lie within
    the EXACT value band DuckDB computes at ranks q +/- 2/accuracy
    (x2 absorbs the +/-1-rank discreteness at band edges; still a
    ~0.02%-rank-wide band)."""
    eps = 2.0 / _PA_ACCURACY
    rows = con.sql(
        f"""
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, {0.5 - eps})  AS lo50,
               quantile_disc(l_extendedprice, {0.5 + eps})  AS hi50,
               quantile_disc(l_extendedprice, {0.95 - eps}) AS lo95,
               quantile_disc(l_extendedprice, {0.95 + eps}) AS hi95
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchall()
    bands = {r[0]: r[1:] for r in rows}
    problems = []
    want_cols = {"l_returnflag", "p50", "p95"}
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != want_cols:
        problems.append(f"cols spark={scols_l} want={sorted(want_cols)}")
        return problems, len(bands)
    if len(srows) != len(bands):
        problems.append(f"rowcount spark={len(srows)} bands={len(bands)}")
    idx = {c: i for i, c in enumerate(scols_l)}
    for r in srows:
        g = r[idx["l_returnflag"]]
        if g not in bands:
            problems.append(f"unexpected group {g!r}")
            continue
        lo50, hi50, lo95, hi95 = bands[g]
        for label, v, lo, hi in (
            ("p50", r[idx["p50"]], lo50, hi50),
            ("p95", r[idx["p95"]], lo95, hi95),
        ):
            if not (lo - 1e-9 <= v <= hi + 1e-9):
                problems.append(
                    f"{g}: {label}={v} outside exact band [{lo}, {hi}]"
                )
    return problems, len(bands)


def _check_distinct_hll(con, scols, srows):
    """events_distinct_users_hll: HLL++ at rsd=0.01 — every group's
    approximate count must lie within 5*rsd of DuckDB's exact
    distinct count (5-sigma on the sketch's standard error; a false
    failure is ~1e-6 per group), and n_events must be EXACT."""
    from analyst_spark.plans.events_plans import HLL_RSD as rsd
    rows = con.sql(
        "SELECT event_type, count(DISTINCT user_id), count(*) "
        "FROM events GROUP BY event_type"
    ).fetchall()
    exact = {r[0]: (r[1], r[2]) for r in rows}
    problems = []
    want_cols = {"event_type", "n_users_approx", "n_events"}
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != want_cols:
        problems.append(f"cols spark={scols_l} want={sorted(want_cols)}")
        return problems, len(exact)
    if len(srows) != len(exact):
        problems.append(f"rowcount spark={len(srows)} exact={len(exact)}")
    idx = {c: i for i, c in enumerate(scols_l)}
    for r in srows:
        g = r[idx["event_type"]]
        if g not in exact:
            problems.append(f"unexpected group {g!r}")
            continue
        n_users, n_events = exact[g]
        approx = r[idx["n_users_approx"]]
        if r[idx["n_events"]] != n_events:
            problems.append(
                f"{g}: n_events={r[idx['n_events']]} exact={n_events}"
            )
        if abs(approx - n_users) > 5 * rsd * n_users + 1:
            problems.append(
                f"{g}: approx={approx} exact={n_users} "
                f"outside 5*rsd band (+/-{5 * rsd * n_users + 1:.0f})"
            )
    return problems, len(exact)


def _check_streaming_distinct_hll(con, scols, srows):
    """streaming_distinct_users_hll: hourly-window HLL++ (rsd 1%) —
    every (hour, type) group within 5*rsd of DuckDB's exact distinct;
    n_events exact; hour compared in epoch-µs."""
    from analyst_spark.plans.events_plans import HLL_RSD as rsd
    rows = con.sql(
        "SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT), event_type, "
        "count(DISTINCT user_id), count(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    exact = {(r[0], r[1]): (r[2], r[3]) for r in rows}
    problems = []
    want_cols = {"hour_us", "event_type", "n_users_approx", "n_events"}
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != want_cols:
        problems.append(f"cols spark={scols_l} want={sorted(want_cols)}")
        return problems, len(exact)
    if len(srows) != len(exact):
        problems.append(f"rowcount spark={len(srows)} exact={len(exact)}")
    idx = {c: i for i, c in enumerate(scols_l)}
    for r in srows:
        g = (r[idx["hour_us"]], r[idx["event_type"]])
        if g not in exact:
            problems.append(f"unexpected group {g!r}")
            continue
        n_users, n_events = exact[g]
        if r[idx["n_events"]] != n_events:
            problems.append(
                f"{g}: n_events={r[idx['n_events']]} exact={n_events}"
            )
        approx = r[idx["n_users_approx"]]
        if abs(approx - n_users) > 5 * rsd * n_users + 1:
            problems.append(
                f"{g}: approx={approx} exact={n_users} outside 5*rsd band"
            )
    return problems, len(exact)


def _check_heavy_hitters_cms(con, scols, srows):
    """text_heavy_hitters_cms: token/cnt/rnk must EQUAL DuckDB's
    exact top-25 (count desc, token asc); est_cms must never
    underestimate (deterministic CMS guarantee) and must stay under
    cnt + 3*eps*N. The 1x-eps overestimate bound is only
    probabilistic — P(row > cnt + k*eps*N) <= (1/2k)^depth by
    Markov, so k=1 over 25 probes risks ~18% a-priori false failure
    on a fresh corpus; k=3 at depth 7 puts the gate at ~1e-4 like
    the 5-sigma HLL bands (still deterministic for fixed data+seed;
    the current corpus passes k=1 with huge margin)."""
    # Import the entry's own sketch precision so the band cannot
    # silently desynchronize if the plan's eps ever changes.
    from analyst_spark.plans.pipeline_plans import _CMS_EPS as eps
    exact = con.sql(
        "SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM ("
        "SELECT unnest(string_split(text, ' ')) AS token FROM documents)"
        " WHERE token <> '' GROUP BY token"
        " ORDER BY cnt DESC, token ASC LIMIT 25"
    ).fetchall()
    (n_total,) = con.sql(
        "SELECT count(*) FROM (SELECT unnest(string_split(text, ' ')) AS t"
        " FROM documents) WHERE t <> ''"
    ).fetchone()
    problems = []
    want_cols = {"rnk", "token", "cnt", "est_cms"}
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != want_cols:
        problems.append(f"cols spark={scols_l} want={sorted(want_cols)}")
        return problems, len(exact)
    if len(srows) != len(exact):
        problems.append(f"rowcount spark={len(srows)} exact={len(exact)}")
        return problems, len(exact)
    idx = {c: i for i, c in enumerate(scols_l)}
    srows = sorted(srows, key=lambda r: r[idx["rnk"]])
    for i, ((token, cnt), r) in enumerate(zip(exact, srows)):
        if (r[idx["token"]], r[idx["cnt"]], r[idx["rnk"]]) != (token, cnt, i + 1):
            problems.append(
                f"rank {i+1}: spark=({r[idx['token']]},{r[idx['cnt']]}) "
                f"exact=({token},{cnt})"
            )
            continue
        est = r[idx["est_cms"]]
        if not (cnt <= est <= cnt + 3 * eps * n_total):
            problems.append(
                f"{token}: est={est} outside [cnt={cnt}, "
                f"cnt+3*eps*N={cnt + 3 * eps * n_total:.0f}]"
            )
    return problems, len(exact)


def _check_lineitem_profile_approx(con, scols, srows):
    """lineitem_profile_approx: every metric EXCEPT n_distinct must
    EQUAL the exact-profile oracle row-for-row (n_rows, n_null,
    completeness_ppm, min_repr, max_repr are plain aggregates — HLL
    only replaces the distinct counter); n_distinct must lie within
    5*rsd of DuckDB's exact distinct count (5-sigma on the HLL++
    standard error at the entry's own pinned rsd)."""
    from analyst_spark.plans.analytics_plans import (
        LINEITEM_PROFILE_ORACLE,
        PROFILE_HLL_RSD as rsd,
    )

    exact = {
        r[0]: r[1:]
        for r in con.sql(LINEITEM_PROFILE_ORACLE).fetchall()
    }
    problems = []
    want_cols = [
        "col_name", "n_rows", "n_null", "completeness_ppm",
        "n_distinct", "min_repr", "max_repr",
    ]
    scols_l = [c.lower() for c in scols]
    if sorted(scols_l) != sorted(want_cols):
        problems.append(f"cols spark={scols_l} want={want_cols}")
        return problems, len(exact)
    if len(srows) != len(exact):
        problems.append(f"rowcount spark={len(srows)} exact={len(exact)}")
    idx = {c: i for i, c in enumerate(scols_l)}
    for r in srows:
        c = r[idx["col_name"]]
        if c not in exact:
            problems.append(f"unexpected column {c!r}")
            continue
        n_rows, n_null, ppm, nd_exact, mn, mx = exact[c]
        for label, got, want in (
            ("n_rows", r[idx["n_rows"]], n_rows),
            ("n_null", r[idx["n_null"]], n_null),
            ("completeness_ppm", r[idx["completeness_ppm"]], ppm),
            ("min_repr", r[idx["min_repr"]], mn),
            ("max_repr", r[idx["max_repr"]], mx),
        ):
            if got != want:
                problems.append(f"{c}: {label}={got!r} exact={want!r}")
        nd = r[idx["n_distinct"]]
        tol = max(1, 5 * rsd * nd_exact)
        if abs(nd - nd_exact) > tol:
            problems.append(
                f"{c}: n_distinct={nd} outside 5-sigma band "
                f"[{nd_exact - tol:.0f}, {nd_exact + tol:.0f}]"
            )
    return problems, len(exact)


# -- measured-recall gates for the trained/projected ANN family
# (VERDICT r10 #4): these entries are iterative (k-means / eigen-
# decomposition), so no hash oracle exists — but their QUALITY is
# measurable against the exact-cosine oracle list. Floors are set at
# the GATE-variant measured minimum across both decades minus a small
# margin (r13 sweep, SCALE.md "r13: adaptive probing" — entries now
# run confidence-scaled probing): ann_pca_ivf 0.84 / 0.84 -> floor
# 0.80; ann_ivf_trained 0.84 / 1.00 -> floor 0.80; twin recall 1.00 /
# 1.00; PCA explained variance == the true top-8 eigenvalue sum
# exactly. The gate corpus+query set is FIXED, so the gate value is
# deterministic — the same pipelines measured on other disjoint
# 5-query sets now spread 0.76-0.96 (r13 sweep; the r12 fixed-probe
# tail reached 0.46), which is query-set sensitivity, not gate noise;
# the floor pins the fixed variant and would need re-derivation if
# the testdata generator ever changed.

def _ann_recall_exact_sql() -> str:
    # derive query count / k from the catalog constants the gated
    # entries themselves use (r11 review: hardcoded 5/10 would
    # silently drift if _ANN_NUM_QUERIES/_ANN_K change)
    from analyst_spark.plans.text_plans import _ANN_K, _ANN_NUM_QUERIES

    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_ANN_NUM_QUERIES}),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
    SELECT query_id, vec_id,
           round(list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))), 6) AS s
    FROM c CROSS JOIN q WHERE vec_id <> query_id),
r AS (SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
      FROM scored)
SELECT query_id, vec_id FROM r WHERE rank <= {_ANN_K}
"""


def _check_ann_recall(floor):
    def check(con, scols, srows):
        problems = []
        want = {"query_id", "vec_id", "rank", "cosine_sim"}
        scols_l = [c.lower() for c in scols]
        if set(scols_l) != want:
            return [f"cols spark={scols_l} want={sorted(want)}"], 0
        exact = set(map(tuple, con.sql(_ann_recall_exact_sql()).fetchall()))
        iq, iv = scols_l.index("query_id"), scols_l.index("vec_id")
        got = {(r[iq], r[iv]) for r in srows}
        recall = len(got & exact) / len(exact) if exact else 1.0
        if recall < floor:
            problems.append(
                f"recall@10={recall:.4f} below measured floor {floor}"
            )
        return problems, len(exact)

    return check


def _check_semantic_trained_twins(con, scols, srows):
    """Planted ×2-scaled twins (vec_id % 50 == 0 → +1e6) are cosine
    1.0 with their sources; the trained clustering must flag every
    one as a dup. Floor 0.95 absorbs nothing today (measured 1.0 at
    both decades) but keeps the gate a band, not a pin, across
    corpus changes."""
    problems = []
    scols_l = [c.lower() for c in scols]
    for c in ("vec_id", "is_dup"):
        if c not in scols_l:
            return [f"missing col {c} in {scols_l}"], 0
    planted = {
        r[0] + 1_000_000
        for r in con.sql(
            "SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0"
        ).fetchall()
    }
    if not planted:
        return ["fixture planted no twins"], 0
    ii, id_ = scols_l.index("is_dup"), scols_l.index("vec_id")
    flagged = {r[id_] for r in srows if r[ii]}
    recall = len(planted & flagged) / len(planted)
    if recall < 0.95:
        problems.append(f"twin recall={recall:.4f} below floor 0.95")
    return problems, len(planted)


def _check_pca_variance(con, scols, srows):
    """Spark's treeAggregate PCA must capture >= 98% of the TRUE
    top-8 eigenvalue variance (computed exactly here from the same
    parquet); measured: it matches the optimum to 4 decimals at both
    decades, so the band is pure convergence slack."""
    import numpy as np

    problems = []
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != {"vec_id", "projection"}:
        return [f"cols spark={scols_l}"], 0
    X = np.stack(
        np.array(
            con.sql(
                "SELECT embedding::DOUBLE[] FROM embeddings ORDER BY vec_id"
            ).fetchall()
        )[:, 0]
    )
    if len(srows) != len(X):
        return [f"rowcount spark={len(srows)} corpus={len(X)}"], len(X)
    Xc = X - X.mean(axis=0)
    ev = np.linalg.eigvalsh(Xc.T @ Xc / len(X))[::-1]
    true_top8 = float(ev[:8].sum())
    ip = scols_l.index("projection")
    P = np.array([r[ip] for r in srows])
    if P.shape[1] != 8:
        problems.append(f"projection dim {P.shape[1]} != 8")
        return problems, len(X)
    got = float(P.var(axis=0, ddof=0).sum())
    if not 0.98 * true_top8 <= got <= 1.001 * true_top8:
        problems.append(
            f"projected variance {got:.6f} outside "
            f"[0.98, 1.001]x true top-8 {true_top8:.6f}"
        )
    return problems, len(X)


def _check_events_approx_distinct(con, scols, srows):
    """events_approx_distinct: each HLL estimate (rsd=0.01) within
    the 5-sigma band of the exact per-type distinct-user count."""
    problems = []
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != {"event_type", "approx_users"}:
        return [f"cols spark={scols_l}"], 0
    exact = dict(
        con.sql(
            "SELECT event_type, count(DISTINCT user_id) FROM events "
            "GROUP BY event_type"
        ).fetchall()
    )
    it, iu = scols_l.index("event_type"), scols_l.index("approx_users")
    got = {r[it]: r[iu] for r in srows}
    if set(got) != set(exact):
        problems.append(f"strata spark={sorted(got)} exact={sorted(exact)}")
        return problems, len(exact)
    for t, n_exact in exact.items():
        tol = max(1, 5 * 0.01 * n_exact)
        if abs(got[t] - n_exact) > tol:
            problems.append(
                f"{t}: approx={got[t]} outside 5-sigma band of {n_exact}"
            )
    return problems, len(exact)


def _check_stratified_sample(con, scols, srows):
    """docs_stratified_sample: every language stratum present and its
    sample count within the 5-sigma binomial band of N*0.5 (seeded
    Bernoulli sampling at fraction 0.5 per stratum)."""
    problems = []
    scols_l = [c.lower() for c in scols]
    if set(scols_l) != {"lang", "n_sampled"}:
        return [f"cols spark={scols_l}"], 0
    pop = dict(
        con.sql("SELECT lang, count(*) FROM documents GROUP BY lang").fetchall()
    )
    il, iN = scols_l.index("lang"), scols_l.index("n_sampled")
    got = {r[il]: r[iN] for r in srows}
    if set(got) != set(pop):
        problems.append(f"strata spark={sorted(map(str, got))} "
                        f"pop={sorted(map(str, pop))}")
        return problems, len(pop)
    for lang, n_pop in pop.items():
        mean = 0.5 * n_pop
        tol = max(1, 5 * math.sqrt(n_pop * 0.25))
        if abs(got[lang] - mean) > tol:
            problems.append(
                f"{lang}: n_sampled={got[lang]} outside 5-sigma "
                f"binomial band around {mean:.1f} (N={n_pop})"
            )
    return problems, len(pop)


def _check_bpe_pack(con, scols, srows):
    """docs_bpe_tokenize_pack: the packing INVARIANTS are exact even
    though the BPE merge table is iterative. A document is assigned
    to the sequence containing its START offset (seq_id = prefix DIV
    512), so the checkable contract is on prefix sums, not a naive
    per-sequence <= 512 budget: for every sequence k, the total
    tokens of all EARLIER sequences must land inside window k
    (k*512 <= prefix < (k+1)*512 — equivalently, the window is where
    seq k's first doc starts). Plus: seq ids contiguous from 0,
    every document placed exactly once, doc-id ranges monotone
    across consecutive sequences (placement order is id order)."""
    problems = []
    scols_l = [c.lower() for c in scols]
    want = {"seq_id", "n_docs", "n_bpe_tokens", "first_doc", "last_doc"}
    if set(scols_l) != want:
        return [f"cols spark={scols_l}"], 0
    idx = {c: scols_l.index(c) for c in want}
    n_docs_total = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    rows = sorted(srows, key=lambda r: r[idx["seq_id"]])
    seq_ids = [r[idx["seq_id"]] for r in rows]
    if seq_ids != list(range(len(rows))):
        problems.append("seq_id not contiguous from 0")
        return problems, len(rows)
    placed = sum(r[idx["n_docs"]] for r in rows)
    if placed != n_docs_total:
        problems.append(
            f"placed {placed} docs != corpus {n_docs_total} "
            "(every doc must be packed exactly once)"
        )
    prefix = 0
    prev_last = None
    for r in rows:
        k = r[idx["seq_id"]]
        if not k * 512 <= prefix < (k + 1) * 512:
            problems.append(
                f"seq {k}: prefix {prefix} outside its "
                f"[{k * 512}, {(k + 1) * 512}) start window"
            )
        if r[idx["first_doc"]] > r[idx["last_doc"]]:
            problems.append(f"seq {k}: doc range inverted")
        if prev_last is not None and r[idx["first_doc"]] <= prev_last:
            problems.append(
                f"seq {k}: first_doc {r[idx['first_doc']]} not after "
                f"previous sequence's last_doc {prev_last}"
            )
        prev_last = r[idx["last_doc"]]
        prefix += r[idx["n_bpe_tokens"]]
    return problems, len(rows)


def _check_quality_classifier(con, scols, srows):
    """docs_quality_classifier: the label column must equal the
    Gopher oracle EXACTLY (weak labels are SQL-expressible — the
    gopher entry is hash-gated), and training accuracy must clear
    the measured floor 0.75 (r12 sweep: IRLS reaches 0.78-0.81 at
    the gate decades and >= 0.759 on every doc_id%5 corpus slice,
    SCALE.md "r12: floor sweep"; the retired hashed-GD recipe sat at
    the 0.63 majority rate, which this gate catches with margin)."""
    from analyst_spark.plans.pipeline_plans import DOCS_GOPHER_ORACLE

    problems = []
    scols_l = [c.lower() for c in scols]
    want = {"doc_id", "score", "pred", "label"}
    if set(scols_l) != want:
        return [f"cols spark={scols_l}"], 0
    idx = {c: scols_l.index(c) for c in want}
    truth = dict(
        con.sql(
            f"SELECT doc_id, keep FROM ({DOCS_GOPHER_ORACLE})"
        ).fetchall()
    )
    got = {r[idx["doc_id"]]: r for r in srows}
    if set(got) != set(truth):
        problems.append(
            f"doc coverage spark={len(got)} oracle={len(truth)}"
        )
        return problems, len(truth)
    mislabeled = [
        d for d, r in got.items() if bool(r[idx["label"]]) != bool(truth[d])
    ]
    if mislabeled:
        problems.append(
            f"{len(mislabeled)} label values differ from the gopher "
            f"oracle (e.g. doc {mislabeled[0]})"
        )
    acc = sum(
        1 for r in got.values() if bool(r[idx["pred"]]) == bool(r[idx["label"]])
    ) / len(got)
    if acc < 0.75:
        problems.append(
            f"training accuracy {acc:.4f} below measured floor 0.75"
        )
    return problems, len(truth)


def _bpe_replay(word_counts, num_merges, batch, min_pair_count=2):
    """Independent replay of the documented BPE selection rule over
    DuckDB-derived word counts (VERDICT r11 #6): per iteration, pair
    counts under all previously applied merges; candidates sorted
    (count desc, left asc, right asc) within the k = 8·want + 32
    horizon; greedy non-interacting batch selection (a candidate is
    rejected when its left/right/output collides with an
    already-accepted merge's symbols). This is the defining argmax
    invariant — merge i must be the top surviving candidate under
    merges 1..i-1 — executed here without importing the trainer."""
    from collections import Counter

    syms = {w: list(w) for w in word_counts}
    merges = []
    while len(merges) < num_merges:
        counts = Counter()
        for w, s in syms.items():
            c = word_counts[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += c
        if not counts:
            break
        want = min(batch, num_merges - len(merges))
        k = 8 * want + 32
        cands = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        chosen, used = [], set()
        for (a, b), n in cands:
            if n < min_pair_count or len(chosen) >= want:
                break
            o = a + b
            if a in used or b in used or o in used:
                continue
            chosen.append((a, b, n))
            used.update((a, b, o))
        if not chosen:
            break
        merges.extend(chosen)
        table = {(a, b): a + b for a, b, _ in chosen}
        for w, s in syms.items():
            out = []
            for x in s:
                if out and (out[-1], x) in table:
                    out[-1] = table[(out[-1], x)]
                else:
                    out.append(x)
            syms[w] = out
    return merges


def _check_bpe_train(mode):
    def check(con, scols, srows):
        from analyst_spark.functions.bpe import MAX_BPE_WORD_CHARS
        from analyst_spark.plans.pipeline_plans import (
            _BPE_BATCH,
            _BPE_BATCHED_MERGES,
            _BPE_MERGES,
        )

        num_merges, batch = (
            (_BPE_MERGES, 1)
            if mode == "sequential"
            else (_BPE_BATCHED_MERGES, _BPE_BATCH)
        )

        problems = []
        want = {"merge_rank", "left", "right", "pair_count"}
        scols_l = [c.lower() for c in scols]
        if set(scols_l) != want:
            return [f"cols spark={scols_l} want={sorted(want)}"], 0
        wc = dict(
            con.sql(
                "SELECT w, CAST(count(*) AS BIGINT) FROM ("
                "SELECT unnest(regexp_split_to_array(trim(lower(text)),"
                " '\\s+')) AS w FROM documents)"
                f" WHERE w <> '' AND length(w) <= {MAX_BPE_WORD_CHARS}"
                " GROUP BY w"
            ).fetchall()
        )
        expect = _bpe_replay(wc, num_merges, batch)
        idx = {c: scols_l.index(c) for c in want}
        got = [
            (r[idx["left"]], r[idx["right"]], r[idx["pair_count"]])
            for r in sorted(srows, key=lambda r: r[idx["merge_rank"]])
        ]
        ranks = sorted(r[idx["merge_rank"]] for r in srows)
        if ranks != list(range(1, len(srows) + 1)):
            problems.append("merge_rank not contiguous from 1")
        if got != expect:
            diff = next(
                (i for i, (g, e) in enumerate(zip(got, expect)) if g != e),
                min(len(got), len(expect)),
            )
            problems.append(
                f"merge sequence diverges from the replayed argmax "
                f"rule at rank {diff + 1}: spark={got[diff:diff+2]} "
                f"replay={expect[diff:diff+2]} "
                f"(n spark={len(got)} replay={len(expect)})"
            )
        return problems, len(expect)

    return check


BANDED_CHECKS = {
    "agg_quantile_sketch": _check_quantile_approx,
    # r11: property/band gates for the remaining rows-only entries
    "events_approx_distinct": _check_events_approx_distinct,
    "docs_stratified_sample": _check_stratified_sample,
    "docs_bpe_tokenize_pack": _check_bpe_pack,
    "docs_quality_classifier": _check_quality_classifier,
    # VERDICT r10 #4 — measured-recall/variance gates
    "ann_pca_ivf": _check_ann_recall(0.80),
    "ann_ivf_trained": _check_ann_recall(0.80),
    "dedup_semantic_trained": _check_semantic_trained_twins,
    "embeddings_pca": _check_pca_variance,
    "lineitem_profile_approx": _check_lineitem_profile_approx,
    "events_distinct_users_hll": _check_distinct_hll,
    "streaming_distinct_users_hll": _check_streaming_distinct_hll,
    "text_heavy_hitters_cms": _check_heavy_hitters_cms,
    # identical contract: stream-built sketch + exact head (the blob
    # itself is pinned bit-equal to batch in tests/test_advice_r8.py)
    "streaming_heavy_hitters_cms": _check_heavy_hitters_cms,
    # r12 (VERDICT r11 #6): the last two rows-only entries gated —
    # the reported merge table must equal the argmax selection rule
    # replayed over DuckDB-derived word counts (num_merges/batch
    # mirror the catalog entries' literals)
    "bpe_train_merges": _check_bpe_train("sequential"),
    "bpe_train_batched": _check_bpe_train("batched"),
}


def persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def main(names, json_path=None):
    import __spark_entry__ as entrymod
    from analyst_spark.session import get_spark

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = names or list(qs)
    failures = []
    report = {}
    for name in names:
        t0 = time.time()
        rec = {"rows_match": None, "schema_match": None,
               "hash_match": None, "spark_rows": None,
               "oracle_rows": None, "err": None, "leaked_rdds": None}
        report[name] = rec
        before = persistent_rdd_ids(spark)
        try:
            df = qs[name](spark, SF_DIR)
            srows = df.collect()
            scols = df.columns
            # release any LSH bucket caches persisted while building
            # this entry — the full-catalog sweep would otherwise pin
            # dozens of bucket tables in one session
            from analyst_spark.functions.dedup import release_cached

            release_cached(df)
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark: {e}"
            print(f"FAIL  {name}: spark error: {e}")
            continue
        rec["spark_rows"] = len(srows)
        rec["leaked_rdds"] = sorted(persistent_rdd_ids(spark) - before)
        if rec["leaked_rdds"]:
            failures.append(name)
            rec["err"] = "leak"
            print(f"FAIL  {name}: {len(rec['leaked_rdds'])} persisted RDDs "
                  f"left after release_cached: {rec['leaked_rdds']} "
                  f"[{time.time()-t0:.1f}s]")
            continue
        if name not in oracles:
            if name in BANDED_CHECKS:
                try:
                    problems, n_bands = BANDED_CHECKS[name](con, scols, srows)
                except Exception as e:  # noqa: BLE001
                    problems, n_bands = [f"banded check error: {e}"], None
                rec["oracle_rows"] = n_bands
                rec["err"] = "banded_oracle"
                if problems:
                    failures.append(name)
                    rec["rows_match"] = rec["schema_match"] = False
                    rec["hash_match"] = False
                    print(f"FAIL  {name}: {'; '.join(problems)} "
                          f"[{time.time()-t0:.1f}s]")
                else:
                    rec["rows_match"] = rec["schema_match"] = True
                    rec["hash_match"] = True
                    print(f"ok    {name}: rows={len(srows)} "
                          f"(banded-error oracle) [{time.time()-t0:.1f}s]")
                continue
            rec["err"] = "no_oracle"
            print(f"ok*   {name}: rows={len(srows)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                print(f"      WARNING: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"duckdb: {e}"
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        rec["oracle_rows"] = len(orows)
        scols_l = [c.lower() for c in scols]
        problems = []
        if not srows:
            problems.append("zero rows")
        rec["schema_match"] = sorted(scols_l) == sorted(ocols)
        if not rec["schema_match"]:
            problems.append(f"cols spark={scols_l} duck={ocols}")
        rec["rows_match"] = len(srows) == len(orows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            sh = table_hash(scols_l, [tuple(r) for r in srows])
            oh = table_hash(ocols, orows)
            rec["hash_match"] = sh == oh
            if sh != oh:
                problems.append(f"value-hash spark={sh} duck={oh}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"ok    {name}: rows={len(srows)} hash={sh} [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump(
                {"sf_dir": SF_DIR, "n": len(names),
                 "green": len(names) - len(failures),
                 "failures": failures, "queries": report},
                fh, indent=1)
        print(f"report written to {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    out = None
    if "--json" in argv:
        i = argv.index("--json")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    raise SystemExit(main(argv, json_path=out))
