"""Generation-eval metric tests (ROUGE-N, BLEU components, token-level
WER, NDCG@10, MRR, chrF).  Each test recomputes the metric
INDEPENDENTLY (pure Python over DuckDB-extracted raw documents)
rather than re-running the Spark expression — the oracle-parity
harness already proves Spark==DuckDB; these prove both match the
DEFINITION."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from big_data_analysis_spark.registry import load_all

REG = load_all()


def run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def _docs(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    return {int(i): (t.split(" "), int(n)) for i, t, n in rows}


def _overlap(pred, ref):
    """Multiset overlap = sum over gram types of min counts."""
    cp, cr = Counter(pred), Counter(ref)
    return sum(min(c, cr[g]) for g, c in cp.items())


def _ngrams(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_rouge_n_matches_definition(spark, sf_dir):
    rows = {
        r.doc_id: r for r in run("pipeline_eval_rouge_n", spark, sf_dir).collect()
    }
    docs = _docs(sf_dir)
    assert set(rows) == set(docs)
    for doc_id, (toks, _) in docs.items():
        ref = toks[:12]
        if doc_id % 3 == 0:
            pred = toks[:12]
        elif doc_id % 3 == 1:
            pred = toks[4:16]
        else:
            pred = sorted(toks[:12], reverse=True)
        r = rows[doc_id]
        assert r.r1_match == _overlap(pred, ref)
        assert r.r1_ref_n == len(ref)
        assert r.rouge1_recall == _overlap(pred, ref) / len(ref)
        ref2, pred2 = _ngrams(ref, 2), _ngrams(pred, 2)
        assert r.r2_match == _overlap(pred2, ref2)
        assert r.r2_ref_n == len(ref2)
        # regime checks: identical -> both 1; sorted perm -> R1=1
        if doc_id % 3 == 0:
            assert r.rouge1_recall == 1.0 and r.rouge2_recall == 1.0
        if doc_id % 3 == 2:
            assert r.rouge1_recall == 1.0


def test_bleu_components_match_definition(spark, sf_dir):
    rows = {
        r.doc_id: r for r in run("pipeline_eval_bleu", spark, sf_dir).collect()
    }
    docs = _docs(sf_dir)
    for doc_id, (toks, _) in docs.items():
        ref = toks[:16]
        if doc_id % 3 == 0:
            pred = toks[:16]
        elif doc_id % 3 == 1:
            pred = toks[2:18]
        else:
            pred = toks[:10]
        r = rows[doc_id]
        assert r.pred_len == len(pred) and r.ref_len == len(ref)
        for n in range(1, 5):
            pg, rg = _ngrams(pred, n), _ngrams(ref, n)
            assert getattr(r, f"p{n}_match") == _overlap(pg, rg)
            assert getattr(r, f"p{n}_total") == len(pg)
            assert getattr(r, f"p{n}") == _overlap(pg, rg) / len(pg)
        assert r.brevity_ratio == len(pred) / len(ref)
        if doc_id % 3 == 0:  # identical: all precisions 1
            assert all(getattr(r, f"p{n}") == 1.0 for n in range(1, 5))
        if doc_id % 3 == 2:  # truncated: brevity < 1, precisions 1
            assert r.brevity_ratio < 1.0
            assert r.p4 == 1.0


def _lev(a, b):
    """Textbook Wagner-Fischer over token lists."""
    dp = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, y in enumerate(b, 1):
            prev, dp[j] = dp[j], min(
                dp[j] + 1, dp[j - 1] + 1, prev + (x != y)
            )
    return dp[len(b)]


def test_wer_matches_token_levenshtein(spark, sf_dir):
    rows = {
        r.doc_id: r for r in run("pipeline_eval_wer", spark, sf_dir).collect()
    }
    docs = _docs(sf_dir)
    for doc_id, (toks, _) in docs.items():
        ref = toks[:24]
        if doc_id % 4 == 0:
            pred = toks[:24]
        elif doc_id % 4 == 1:
            pred = toks[2:26]
        elif doc_id % 4 == 2:
            capped = toks[: min(len(toks), 24)]
            pred = [t for i, t in enumerate(capped, 1) if i % 3 != 0]
        else:
            pred = list(reversed(toks[:24]))
        r = rows[doc_id]
        want = _lev(ref, pred)  # token-level distance, the definition
        assert r.edit_ops == want, (doc_id, r.edit_ops, want)
        assert r.ref_len == len(ref) and r.pred_len == len(pred)
        assert r.wer == want / len(ref)
        if doc_id % 4 == 0:
            assert r.edit_ops == 0


def test_wer_computes_levenshtein_once(spark, sf_dir):
    """``wer`` is derived from ``edit_ops``: the O(cap^2) distance runs
    once per row, not once more inside the ``wer`` CASE branch."""
    df = run("pipeline_eval_wer", spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("levenshtein(") == 1, plan


def _grid_rel(sf_dir):
    docs = _docs(sf_dir)
    out = {}
    for q in range(20):
        out[q] = [
            (rank, docs[(q * 37 + rank * 11) % 500][1] % 4)
            for rank in range(1, 11)
        ]
    return out


def test_ndcg_matches_definition(spark, sf_dir):
    rows = {
        r.query_id: r for r in run("pipeline_eval_ndcg", spark, sf_dir).collect()
    }
    W = [round(10**12 / math.log2(r + 1)) for r in range(1, 11)]
    for q, cands in _grid_rel(sf_dir).items():
        gains = {rank: (1 << rel) - 1 for rank, rel in cands}
        dcg = sum(gains[rank] * W[rank - 1] for rank, _ in cands)
        ideal = sorted(cands, key=lambda rr: (-rr[1], rr[0]))
        idcg = sum(
            ((1 << rel) - 1) * W[pos]
            for pos, (_, rel) in enumerate(ideal)
        )
        r = rows[q]
        assert r.dcg_scaled == dcg
        assert r.idcg_scaled == idcg
        assert r.ndcg == dcg / max(idcg, 1)
        assert 0.0 <= r.ndcg <= 1.0


def test_mrr_matches_definition(spark, sf_dir):
    rows = {
        r.query_id: r for r in run("pipeline_eval_mrr", spark, sf_dir).collect()
    }
    for q, cands in _grid_rel(sf_dir).items():
        rel_ranks = [rank for rank, rel in cands if rel >= 2]
        first = min(rel_ranks) if rel_ranks else 0
        r = rows[q]
        assert r.first_rel_rank == first
        assert r.n_relevant == len(rel_ranks)
        assert r.rr_scaled == (10**12 // first if first else 0)


def test_eval_gen_regimes_all_present(spark, sf_dir):
    """The perturbation regimes must all occur in the fixture (a
    degenerate fixture would vacuously pass the per-row checks)."""
    wer = run("pipeline_eval_wer", spark, sf_dir).collect()
    assert any(r.edit_ops == 0 for r in wer)
    assert any(r.edit_ops > 0 for r in wer)
    ndcg = run("pipeline_eval_ndcg", spark, sf_dir).collect()
    assert any(r.ndcg < 1.0 for r in ndcg)
    assert any(r.idcg_scaled > 0 for r in ndcg)


def test_chrf_matches_definition(spark, sf_dir):
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    rows = {
        r.doc_id: r for r in run("pipeline_eval_chrf", spark, sf_dir).collect()
    }
    for doc_id, text in docs:
        ref = text[:40]
        if doc_id % 3 == 0:
            pred = ref
        elif doc_id % 3 == 1:
            pred = text[5:45]
        else:
            pred = text[:25]
        r = rows[doc_id]
        for n in range(1, 4):
            rg = [ref[i : i + n] for i in range(len(ref) - n + 1)]
            pg = [pred[i : i + n] for i in range(len(pred) - n + 1)]
            m = _overlap(pg, rg)
            assert getattr(r, f"m{n}") == m
            assert getattr(r, f"pt{n}") == len(pg)
            assert getattr(r, f"rt{n}") == len(rg)
            if m == 0:
                assert getattr(r, f"chrf{n}") == 0.0
            else:
                p, rc = m / len(pg), m / len(rg)
                assert getattr(r, f"chrf{n}") == pytest.approx(
                    5.0 * p * rc / (4.0 * p + rc), rel=0, abs=0
                )
        if doc_id % 3 == 0:
            assert r.chrf3 == 1.0
