"""Regression tests: scratch eviction, the late-audit watermark constant,
trigram Kneser–Ney, and the suffix comparison cap."""

from __future__ import annotations

import math

import pytest


class TestScratchRegistry:
    """evict_scratch on a session with nothing registered is a no-op
    (the release checks live in tests/test_session_state.py)."""

    def test_evict_is_idempotent(self, spark):
        from cs422pp_mapreduce_spark.session import evict_scratch

        evict_scratch(spark)
        evict_scratch(spark)  # second call on an empty registry: no-op


class TestLateAuditWatermarkConstant:
    """The 2h delay derives from ONE constant on all
    three sites (stream watermark string, report cutoff, oracle SQL)."""

    def test_wm_string_derives_from_hours(self):
        from cs422pp_mapreduce_spark.streaming.events import (
            LATE_AUDIT_WM,
            LATE_AUDIT_WM_HOURS,
        )

        assert LATE_AUDIT_WM == f"{LATE_AUDIT_WM_HOURS} hours"

    def test_oracle_interval_derives_from_hours(self):
        from cs422pp_mapreduce_spark.oracles import _stream_late_audit_sql
        from cs422pp_mapreduce_spark.streaming.events import (
            LATE_AUDIT_WM_HOURS,
        )

        sql = _stream_late_audit_sql()
        assert f"INTERVAL {LATE_AUDIT_WM_HOURS} HOUR" in sql
        # no other hardcoded watermark interval survives
        assert "INTERVAL 2 HOUR\n" not in sql.replace(
            f"INTERVAL {LATE_AUDIT_WM_HOURS} HOUR", "X"
        )


class TestTrigramKNLogprob:
    """q_trigram_logprob: exact interpolated
    Kneser–Ney against an independent pure-Python replica, plus the
    self-normalization property the KN construction guarantees."""

    DOCS = [
        (1, "a b c a b c a b d"),
        (2, "a b c x y z x y z"),
        (3, "b c a b c a"),
        (4, "q r"),           # <3 tokens: contributes nothing
        (5, "m m m m m"),     # degenerate single-type doc
    ]

    @staticmethod
    def _kn_model(docs):
        from collections import Counter, defaultdict

        D = 0.75
        tf = Counter()
        for _, text in docs:
            t = [x for x in text.split(" ") if x]
            for i in range(len(t) - 2):
                tf[(t[i], t[i + 1], t[i + 2])] += 1
        tri = dict(tf)
        c12, t12 = Counter(), Counter()
        mid = defaultdict(set)
        for (w1, w2, w3), c in tri.items():
            c12[(w1, w2)] += c
            t12[(w1, w2)] += 1
            mid[(w2, w3)].add(w1)
        n23 = {k: len(v) for k, v in mid.items()}
        n2tot, t2 = Counter(), Counter()
        cont = Counter()
        for (w2, w3), n in n23.items():
            n2tot[w2] += n
            t2[w2] += 1
            cont[w3] += 1
        ntt = len(n23)

        def p(w1, w2, w3):
            pc = cont[w3] / ntt
            pm = max(n23[(w2, w3)] - D, 0.0) / n2tot[w2] + (
                D * t2[w2] / n2tot[w2]
            ) * pc
            return max(tri[(w1, w2, w3)] - D, 0.0) / c12[(w1, w2)] + (
                D * t12[(w1, w2)] / c12[(w1, w2)]
            ) * pm

        return p

    def _spark_docs(self, spark):
        return spark.createDataFrame(
            [(i, t, "en", "src") for i, t in self.DOCS],
            "doc_id long, text string, lang string, source string",
        )

    def test_matches_python_replica(self, spark, tmp_path):
        import decimal

        from cs422pp_mapreduce_spark.operators.textops import (
            q_trigram_logprob,
        )

        sf = str(tmp_path / "sf")
        self._spark_docs(spark).write.parquet(sf + "/documents.parquet")
        got = {
            r["doc_id"]: (r["mean_nll_trigram"], r["n_transitions"])
            for r in q_trigram_logprob(spark, sf).collect()
        }

        p = self._kn_model(self.DOCS)
        import math

        for doc_id, text in self.DOCS:
            t = [x for x in text.split(" ") if x]
            grams = [
                (t[i], t[i + 1], t[i + 2]) for i in range(len(t) - 2)
            ]
            if not grams:
                assert doc_id not in got
                continue
            total = decimal.Decimal(0)
            for g in grams:
                nll = decimal.Decimal(
                    str(round(-math.log(p(*g)), 6))
                ).quantize(decimal.Decimal("0.000001"))
                total += nll
            want = float(total) / len(grams)
            assert got[doc_id][1] == len(grams)
            assert abs(got[doc_id][0] - want) < 1e-12, doc_id

    def test_self_normalizing(self):
        """Σ_w3 p(w3 | w1 w2) over the model vocab = 1 exactly (the KN
        type-inventory construction): verified per seen context."""
        p = self._kn_model(self.DOCS)
        from collections import Counter

        tri = Counter()
        vocab = set()
        for _, text in self.DOCS:
            t = [x for x in text.split(" ") if x]
            vocab.update(t)
            for i in range(len(t) - 2):
                tri[(t[i], t[i + 1], t[i + 2])] += 1
        # extend p to unseen w3 within a seen context (backoff only)
        from collections import defaultdict

        D = 0.75
        mid = defaultdict(set)
        for (w1, w2, w3), c in tri.items():
            mid[(w2, w3)].add(w1)
        n23 = {k: len(v) for k, v in mid.items()}
        n2tot, t2, cont = Counter(), Counter(), Counter()
        for (w2, w3), n in n23.items():
            n2tot[w2] += n
            t2[w2] += 1
            cont[w3] += 1
        ntt = len(n23)
        c12, t12 = Counter(), Counter()
        for (w1, w2, w3), c in tri.items():
            c12[(w1, w2)] += c
            t12[(w1, w2)] += 1

        def p_full(w1, w2, w3):
            pc = cont[w3] / ntt
            pm = (
                max(n23.get((w2, w3), 0) - D, 0.0) / n2tot[w2]
                + (D * t2[w2] / n2tot[w2]) * pc
                if n2tot[w2]
                else pc
            )
            return (
                max(tri.get((w1, w2, w3), 0) - D, 0.0) / c12[(w1, w2)]
                + (D * t12[(w1, w2)] / c12[(w1, w2)]) * pm
            )

        # continuation distribution sums to 1 over w3 TYPES seen as
        # trigram finals; per-context sums hit 1 over that same support
        finals = {w3 for (_, w3) in n23}
        assert abs(sum(cont[w3] / ntt for w3 in finals) - 1.0) < 1e-12
        for (w1, w2) in list(c12)[:10]:
            s = sum(p_full(w1, w2, w3) for w3 in finals)
            assert abs(s - 1.0) < 1e-9, (w1, w2, s)


class TestSuffixOracleCmpFloor:
    """The oracle's cmp-cap arithmetic literally mirrors
    the Spark side's levels = max(1, ceil(log2(min(maxlen, cap))))."""

    def test_oracle_has_greatest_floor(self):
        from cs422pp_mapreduce_spark.oracles import _dedup_suffix_sql

        sql = _dedup_suffix_sql()
        assert "GREATEST(1, CEIL(LOG2(" in sql

    @pytest.mark.parametrize("maxlen", [1, 2, 3, 7, 8, 1000])
    def test_same_arithmetic_all_inputs(self, maxlen):
        """cmp = 2^max(1, ceil(log2(min(maxlen, cap)))) on both sides,
        including the maxlen=1 corner the old oracle got wrong (cmp=1
        vs Spark's 2)."""
        import duckdb

        from cs422pp_mapreduce_spark.operators.suffix import SUFFIX_CAP

        levels = max(1, math.ceil(math.log2(min(maxlen, SUFFIX_CAP))))
        spark_cmp = 1 << levels
        oracle_cmp = duckdb.sql(
            f"SELECT CAST(POWER(2, GREATEST(1, CEIL(LOG2(LEAST({maxlen},"
            f" {SUFFIX_CAP}))))) AS BIGINT)"
        ).fetchone()[0]
        assert oracle_cmp == spark_cmp


class TestPerplexityGate:
    """perplexity_gate (r12): exact count-threshold keep rule over the
    KN-trigram scores."""

    def test_rank_and_keep_rule_vs_scores(self, spark):
        from cs422pp_mapreduce_spark.operators.textops import (
            PPL_KEEP_DEN,
            PPL_KEEP_NUM,
            q_perplexity_gate,
            q_trigram_logprob,
        )
        from tests.conftest import SF_ORACLE

        rows = q_perplexity_gate(spark, SF_ORACLE).collect()
        n = len(rows)
        assert n
        # ranks are a dense permutation of 1..n
        assert sorted(r["nll_rank"] for r in rows) == list(range(1, n + 1))
        # rank order IS (score, doc_id) order — the range-exchange
        # kernel must agree with the naive total order
        by_rank = sorted(rows, key=lambda r: r["nll_rank"])
        assert by_rank == sorted(
            rows, key=lambda r: (r["mean_nll_trigram"], r["doc_id"])
        )
        # exact integer keep rule, and it actually cuts a tail
        for r in rows:
            assert r["kept"] == (
                r["nll_rank"] * PPL_KEEP_DEN <= n * PPL_KEEP_NUM
            )
        assert sum(r["kept"] for r in rows) == n * PPL_KEEP_NUM // PPL_KEEP_DEN
        # scores are exactly trigram_logprob's (the gate adds rank
        # columns, never re-derives the model)
        scores = {
            r["doc_id"]: (r["mean_nll_trigram"], r["n_transitions"])
            for r in q_trigram_logprob(spark, SF_ORACLE).collect()
        }
        assert {
            r["doc_id"]: (r["mean_nll_trigram"], r["n_transitions"])
            for r in rows
        } == scores
