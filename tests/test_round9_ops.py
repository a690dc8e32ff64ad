"""Semantics tests for the round-8/9-batch keys (exact KS drift test,
codegen-compiled DTW, prefix-filtered set-similarity join, hybrid skew
join, Hilbert layout) — independent Python re-derivations, not oracle
re-runs."""

from __future__ import annotations

import math

import pytest

from hh_rumors_presto_spark.queries.breadth_round9 import (
    _HB_N,
    _HB_TABLE,
    hilbert_xy2d,
)
from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

load_all_queries()


def test_ks_statistic_matches_python_rederivation(spark, sf_dir):
    """Re-derive the two-sample KS statistic in plain Python (exact
    integer arithmetic) and compare every output column."""
    ev = [
        r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        if r.event_type in ("click", "view") and r.value is not None
    ]
    per_x: dict[int, list[int]] = {}
    n_a = n_b = 0
    for r in ev:
        xc = math.floor(r.value * 100.0 + 0.5)
        cnt = per_x.setdefault(xc, [0, 0])
        if r.event_type == "click":
            cnt[0] += 1
            n_a += 1
        else:
            cnt[1] += 1
            n_b += 1
    c_a = c_b = 0
    best = -1
    at = None
    for xc in sorted(per_x):
        c_a += per_x[xc][0]
        c_b += per_x[xc][1]
        d = abs(c_a * n_b - c_b * n_a)
        if d > best:
            best, at = d, xc
    (row,) = QUERIES["dq_ks_test"](spark, sf_dir).collect()
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.d_scaled == best
    assert row.at_cents == at
    assert row.ks == best / (n_a * n_b)
    assert 0.0 <= row.ks <= 1.0


def test_dtw_matches_python_dp_replay(spark, sf_dir):
    """Re-derive every pair's warp distance with a straightforward
    Python DP over the same PAA vectors and compare exactly."""
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        if r.value is None:
            continue
        by_user.setdefault(r.user_id, []).append(r)
    vecs: dict[int, list[int]] = {}
    for uid, evs in by_user.items():
        if len(evs) < 40:
            continue
        evs.sort(key=lambda r: (r.ts, r.event_id))
        xcs = [math.floor(r.value * 100.0 + 0.5) for r in evs[:40]]
        vecs[uid] = [sum(xcs[s * 5 : (s + 1) * 5]) for s in range(8)]

    def dtw(va: list[int], vb: list[int]) -> int:
        d = [[0] * 8 for _ in range(8)]
        for i in range(8):
            for j in range(8):
                c = abs(va[i] - vb[j])
                if i == 0 and j == 0:
                    d[i][j] = c
                elif i == 0:
                    d[i][j] = c + d[0][j - 1]
                elif j == 0:
                    d[i][j] = c + d[i - 1][0]
                else:
                    d[i][j] = c + min(
                        d[i - 1][j], d[i][j - 1], d[i - 1][j - 1]
                    )
        return d[7][7]

    want = {}
    for ua in vecs:
        for ub in vecs:
            if ua < ub and ua // 25 == ub // 25:
                want[(ua, ub)] = dtw(vecs[ua], vecs[ub])
    got = {
        (r.user_a, r.user_b): r.dtw
        for r in QUERIES["ts_dtw_paa"](spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture produced no eligible DTW pairs"
    # DTW identity sanity: a pair of identical vectors would be 0; all
    # distances are non-negative integers
    assert all(v >= 0 for v in got.values())


def _bigrams(text: str) -> frozenset:
    toks = text.split(" ")
    return frozenset(
        f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)
    )


@pytest.mark.parametrize("bcount", [1, 4])
def test_ppjoin_no_false_negatives_vs_brute_force(spark, monkeypatch, bcount):
    """The prefix-collision guarantee is a theorem; prove it holds on
    the fixture by brute-forcing ALL pairs at sf0.001 and comparing the
    exact survivor set (pairs AND counts) with the query's output.  The
    500-document fixture sizes to one block, so B is also forced to 4:
    both the single-group and the off-diagonal worker paths run."""
    from hh_rumors_presto_spark.operators import pairblocks

    monkeypatch.setattr(pairblocks, "block_count", lambda n_items: bcount)
    sf = "/root/testdata/sf0.001"
    docs = {
        r.doc_id: _bigrams(r.text)
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    want = {}
    ids = sorted(docs)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            a, b = docs[da], docs[db]
            if not a or not b:
                continue
            inter = len(a & b)
            uni = len(a | b)
            if 10 * inter >= 7 * uni:
                want[(da, db)] = (inter, uni)
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.uni)
        for r in QUERIES["dedup_ppjoin"](spark, sf).collect()
    }
    assert got == want
    for r in QUERIES["dedup_ppjoin"](spark, sf).collect():
        assert r.jaccard == r.inter / r.uni >= 0.7


def test_skew_hybrid_equals_plain_join_and_has_both_branches(spark, sf_dir):
    """The hybrid's values must equal the plain join's, and its physical
    plan must actually contain BOTH a broadcast branch and a shuffle
    branch (otherwise it is not a hybrid)."""
    from pyspark.sql import functions as F

    df = QUERIES["join_skew_hybrid"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "value"
    )
    dim = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_user"),
        F.sum(F.col("value").cast("decimal(28,2)"))
        .cast("decimal(38,2)")
        .alias("v_user"),
    )
    plain = (
        ev.join(dim, "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_user").cast("long").alias("sum_user_n"),
            F.sum("v_user").cast("double").alias("total_dim_value"),
        )
    )
    got = {r.event_type: (r.n, r.sum_user_n, r.total_dim_value)
           for r in df.collect()}
    want = {r.event_type: (r.n, r.sum_user_n, r.total_dim_value)
            for r in plain.collect()}
    assert got == want


def test_hilbert_table_is_a_unit_step_space_filling_curve():
    """The defining Hilbert properties: xy2d is a bijection onto
    0..255, and consecutive curve positions are GRID-ADJACENT (unit
    Manhattan step) — this kills any wrong rotation/flip variant."""
    assert sorted(_HB_TABLE) == list(range(_HB_N * _HB_N))
    pos = {}
    for x in range(_HB_N):
        for y in range(_HB_N):
            pos[hilbert_xy2d(x, y)] = (x, y)
    for d in range(_HB_N * _HB_N - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_cells_match_python_replay(spark, sf_dir):
    """Replay the binning + table lookup + per-cell stats in Python."""
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    cells = {}
    for r in rows:
        if r.value is None:
            continue
        cents = math.floor(r.value * 100.0 + 0.5)
        h = _HB_TABLE[(r.user_id % _HB_N) * _HB_N + (cents % _HB_N)]
        c = cells.setdefault(h // 16, [0, None, None, None, None])
        c[0] += 1
        c[1] = r.user_id if c[1] is None else min(c[1], r.user_id)
        c[2] = r.user_id if c[2] is None else max(c[2], r.user_id)
        c[3] = cents if c[3] is None else min(c[3], cents)
        c[4] = cents if c[4] is None else max(c[4], cents)
    got = {
        r.h_cell: [r.n, r.user_lo, r.user_hi, r.cents_lo, r.cents_hi]
        for r in QUERIES["layout_hilbert"](spark, sf_dir).collect()
    }
    assert got == cells


def test_hll_window_merge_equals_direct_sketch(spark, sf_dir):
    """The merged 3-hour register vector must equal the register vector
    of a direct sketch over the same 3 hours (HLL merge soundness), and
    the pinned relative error must stay within sketch tolerance."""
    import hashlib

    M_RANK_HEX = 13
    rows = [
        r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        if r.ts is not None
    ]

    def hour_of(r):
        # fixture ts is tz-naive micros; both engines treat it as UTC
        import calendar

        return calendar.timegm(r.ts.timetuple()) * 1000000 // 3600000000

    def bucket_rho(uid):
        hexd = hashlib.md5(str(uid).encode()).hexdigest()
        bucket = int(hexd[:2], 16)
        stripped = hexd[2 : 2 + M_RANK_HEX].lstrip("0")
        if not stripped:
            return bucket, 4 * M_RANK_HEX + 1
        nib = stripped[0]
        extra = 3 if nib == "1" else 2 if nib in "23" else 1 if nib in "4567" else 0
        return bucket, 4 * (M_RANK_HEX - len(stripped)) + extra + 1

    hourly = {}
    hours = set()
    for r in rows:
        h = hour_of(r)
        hours.add(h)
        b, rho = bucket_rho(r.user_id)
        key = (h, b)
        hourly[key] = max(hourly.get(key, 0), rho)
    for target in sorted(hours):
        merged = {}
        direct = {}
        for (h, b), m in hourly.items():
            if target - 2 <= h <= target:
                merged[b] = max(merged.get(b, 0), m)
        for r in rows:
            if target - 2 <= hour_of(r) <= target:
                b, rho = bucket_rho(r.user_id)
                direct[b] = max(direct.get(b, 0), rho)
        assert merged == direct, target
    got = {r.hour: r for r in QUERIES["sketch_hll_window"](spark, sf_dir).collect()}
    assert set(got) == hours
    for r in got.values():
        assert r.rel_err <= 0.30, (r.hour, r.rel_err)


def test_schema_evolution_buckets_old_rows_as_null(spark, sf_dir):
    """Every even orderkey (v1, written without the column) must land in
    the '(pre-evolution)' bucket; odd keys keep their real status."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    want = {}
    from decimal import Decimal

    for o in orders:
        status = (
            "(pre-evolution)" if o.o_orderkey % 2 == 0 else o.o_orderstatus
        )
        n, tot = want.get(status, (0, Decimal(0)))
        want[status] = (
            n + 1,
            tot + Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")),
        )
    got = {
        r.status: (r.n, r.total_price)
        for r in QUERIES["sink_schema_evolution"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (n, tot) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - float(tot)) < 1e-6


def test_contrastive_triplets_structure_and_pos_is_argmax(spark, sf_dir):
    """Per anchor: exactly one positive (the true Jaccard argmax,
    re-derived in Python), hard negatives strictly below the near-dup
    threshold in score order, and exactly 2 random negatives from the
    other-language pool."""
    docs = {
        r.doc_id: r
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    shingles = {d: _bigrams(r.text) for d, r in docs.items()}
    rows = QUERIES["pipeline_contrastive_negatives"](spark, sf_dir).collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert by_anchor
    for anchor, rs in by_anchor.items():
        assert anchor % 7 == 0 and shingles[anchor]
        kinds = {}
        for r in rs:
            kinds.setdefault(r.kind, []).append(r)
        # positive = exact argmax of micro-Jaccard over same-lang docs
        best = None
        for cand, sset in shingles.items():
            if cand == anchor or docs[cand].lang != docs[anchor].lang:
                continue
            inter = len(shingles[anchor] & sset)
            if inter == 0:
                continue
            uni = len(shingles[anchor] | sset)
            score = inter * 1000000 // uni
            k = (-score, cand)
            if best is None or k < best[0]:
                best = (k, cand, score)
        if best is None:
            assert "pos" not in kinds
            continue
        (pos,) = kinds["pos"]
        assert (pos.cand_id, pos.score_micro) == (best[1], best[2])
        for r in kinds.get("hard_neg", []):
            inter = len(shingles[anchor] & shingles[r.cand_id])
            uni = len(shingles[anchor] | shingles[r.cand_id])
            assert 2 * inter < uni, "hard negative is a near-dup"
        rand = kinds.get("rand_neg", [])
        assert len(rand) == 2
        for r in rand:
            assert r.cand_id % 11 == 3
            assert docs[r.cand_id].lang != docs[anchor].lang
            # round-7: pool is hash-bucketed; each anchor draws only
            # from its own bucket (equi-join, no BNLJ theta join)
            from hh_rumors_presto_spark.queries.breadth_round10 import (
                _CN_BUCKETS,
            )

            assert r.cand_id % _CN_BUCKETS == anchor % _CN_BUCKETS


def test_viterbi_matches_brute_force_enumeration(spark, sf_dir):
    """Enumerate EVERY segmentation of every fixture word and check the
    DP's (cost, n_pieces) equals the true minimum of the packed
    encoding (cost*64 + n, so ties prefer fewer pieces)."""
    from hh_rumors_presto_spark.queries.tokenizer_round2 import (
        _VIT_MAX_PIECE,
        _VIT_VOCAB,
        _viterbi_enc_py,
    )

    def enumerate_encs(word):
        if not word:
            yield (0, 0)
            return
        for k in range(1, min(_VIT_MAX_PIECE, len(word)) + 1):
            cost = _VIT_VOCAB.get(word[:k])
            if cost is None:
                continue
            for c, n in enumerate_encs(word[k:]):
                yield (cost + c, n + 1)

    rows = QUERIES["text_unigram_viterbi"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        encs = [c * 64 + n for c, n in enumerate_encs(r.word)]
        assert encs, r.word
        best = min(encs)
        assert r.cost_micro == best // 64, r.word
        assert r.n_pieces == best % 64, r.word
        assert _viterbi_enc_py(r.word) == best, r.word


def test_txn_log_snapshot_excludes_stale_and_uncommitted(spark, sf_dir):
    """Python-rederive the committed snapshot (A + rewritten C) and
    check both the values and that the answer PROVABLY differs from a
    directory-listing read (which would double-count B and see the
    never-committed D)."""
    from decimal import Decimal

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    want = {}
    naive_n = 0
    for o in orders:
        m = o.o_orderkey % 3
        price = Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
        if m in (0, 1):
            n, tot = want.get(o.o_orderstatus, (0, Decimal(0)))
            want[o.o_orderstatus] = (
                n + 1,
                tot + (2 * price if m == 1 else price),
            )
        naive_n += 1 + (1 if m == 1 else 0)  # listing read: A+B+C+D rows
    rows = QUERIES["scan_txn_log"](spark, sf_dir).collect()
    got = {r.status: (r.n, r.total_price) for r in rows}
    assert set(got) == set(want)
    for k, (n, tot) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - float(tot)) < 1e-6
    assert sum(n for n, _ in want.values()) < naive_n


def test_hashing_trick_matches_python_md5_replay(spark, sf_dir):
    """Replay bucket/sign hashing per doc in Python and compare the
    integer nnz / l1 / checksum triple exactly."""
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    want = {}
    for d in docs:
        vec = {}
        for tok in d.text.split(" "):
            if not tok:
                continue
            h = hashlib.md5(tok.encode()).hexdigest()
            feat = int(h[:8], 16) % 256
            sgn = 1 if int(h[8], 16) % 2 == 0 else -1
            vec[feat] = vec.get(feat, 0) + sgn
        if not vec:
            continue
        want[d.doc_id] = (
            sum(1 for w in vec.values() if w != 0),
            sum(abs(w) for w in vec.values()),
            sum(f * w for f, w in vec.items()),
        )
    got = {
        r.doc_id: (r.nnz, r.l1, r.checksum)
        for r in QUERIES["feat_hashing_trick"](spark, sf_dir).collect()
    }
    assert got == want


def test_bootstrap_ci_brackets_point_and_weights_are_poisson(spark, sf_dir):
    """Replay the deterministic Poisson weights in Python for one
    replica, check the replica mean matches, and check lo <= point <= hi
    (with B=32 the point estimate must sit inside the ~94% interval on
    a well-behaved fixture)."""
    import hashlib

    from hh_rumors_presto_spark.queries.breadth_round12 import _BS_CDF

    rows = [
        r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        if r.value is not None
    ]
    cents = {r.event_id: math.floor(r.value * 100.0 + 0.5) for r in rows}
    swc = sw = 0
    for eid, c in cents.items():
        u = int(hashlib.md5(f"{eid}#7".encode()).hexdigest()[:8], 16)
        w = next(
            (k for k, t in enumerate(_BS_CDF) if u < t), len(_BS_CDF)
        )
        swc += w * c
        sw += w
    replica7 = swc * 1000000 // sw
    (row,) = QUERIES["aqp_bootstrap_ci"](spark, sf_dir).collect()
    point = sum(cents.values()) * 1000000 // len(cents)
    assert row.point_micro == point
    assert row.n_replicas == 32
    assert row.lo_micro <= row.point_micro <= row.hi_micro
    # a replayed replica mean deviates from the point by O(sd/sqrt(n));
    # 5% of the point is orders of magnitude looser than that
    assert abs(replica7 - point) < 0.05 * point


def test_bigram_backoff_matches_python_lm(spark, sf_dir):
    """Re-derive the Stupid-Backoff score for every doc in Python
    (micro-nat rounding per term, integer sum) and compare exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    streams = {
        d.doc_id: [t for t in d.text.split(" ") if t] for d in docs
    }
    uni = {}
    big = {}
    n = 0
    for toks in streams.values():
        for i, t in enumerate(toks):
            uni[t] = uni.get(t, 0) + 1
            n += 1
            if i > 0:
                big[(toks[i - 1], t)] = big.get((toks[i - 1], t), 0) + 1
    want = {}
    for doc_id, toks in streams.items():
        if not toks:
            continue
        s = 0
        for i, t in enumerate(toks):
            if i == 0:
                lp = math.log(uni[t] / n)
            elif (toks[i - 1], t) in big:
                lp = math.log(big[(toks[i - 1], t)] / uni[toks[i - 1]])
            else:
                lp = math.log(0.4 * uni[t] / n)
            s += math.floor(lp * 1000000.0 + 0.5)
        want[doc_id] = (s, len(toks))
    got = {
        r.doc_id: (r.score_micro, r.n_tokens)
        for r in QUERIES["text_lm_bigram_backoff"](spark, sf_dir).collect()
    }
    assert got == want
