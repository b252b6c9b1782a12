"""Round-13 operator tests: quality_classifier (VERDICT r12 ask #3)
and decontaminate_semantic (VERDICT r12 ask #4), each against an
independent pure-Python naive replica plus the semantic pins the
oracle-hash gate cannot express (learnability, planted-twin recall)."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from tests.conftest import SF_SMOKE


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _bucket100(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:6], 16) % 100


class TestQualityClassifier:
    """fastText-style hashed-n-gram NB classifier: exact replica on a
    tiny synthetic corpus, learnability + determinism on the fixture."""

    DOCS = [
        # (doc_id, text) — the distilled label is quality_score >= 0.5,
        # so "high quality" here means long + stopword-rich + low
        # punctuation; the low docs are short or punctuation-heavy.
        (1, "the table is a scan of the data and the plan is a tree "
            "and the scan is a pass of the table and the rows flow"),
        (2, "query!! plan?? scan;; rows## table%%"),
        (3, "the query is a plan of the scan and a table of the rows "
            "and the plan is a tree of the nodes and the flow is fast"),
        (4, "fast scan join"),
        (5, "a scan of the table is a pass and the plan of the query "
            "is a tree and a row of the batch is a unit of the flow"),
        (6, "join,, merge.. sort:: hash__ scan&&"),
        (7, "the batch is a unit and the row is a fact and the scan "
            "of the table is a pass of the data and the tree grows"),
        (8, "sort merge join hash"),
        (9, "the flow of the rows is a stream and the plan is a tree "
            "and the scan is a pass and the query is a graph of it"),
        (10, "scan!! plan?? tree;;"),
    ]

    @classmethod
    def _replica(cls):
        """Pure-Python mirror of q_quality_classifier's arithmetic."""
        import decimal

        D = 4096 + 11  # hashed buckets + length-decile indicators
        STOP = {"the", "a", "of", "and", "is"}

        def qscore(text):
            toks = [x for x in text.split(" ") if x]
            n, nc = len(toks), len(text)
            n_punct = len(re.sub(r"[a-z0-9\s]", "", text.lower()))
            return (
                min(n / 100.0, 1.0) * 0.4
                + (sum(1 for x in toks if x in STOP) / n) * 0.4
                + (1.0 - n_punct / nc) * 0.2
            )

        def feats(text):
            t = [x for x in text.split(" ") if x]
            grams = list(t) + [f"{a} {b}" for a, b in zip(t, t[1:])]
            tf = {}
            for g in grams:
                f = _md5_60(g) % 4096
                tf[f] = tf.get(f, 0) + 1
            if t:  # length-decile doc-stat indicator
                lf = 4096 + min(len(t) // 10, 10)
                tf[lf] = tf.get(lf, 0) + 1
            return tf

        def lnd(x):
            return decimal.Decimal(str(round(math.log(x), 6))).quantize(
                decimal.Decimal("0.000001")
            )

        lab = {
            i: (qscore(t) >= 0.5, _bucket100(str(i)) < 50)
            for i, t in cls.DOCS
        }
        train = [(i, t) for i, t in cls.DOCS if lab[i][1]]
        c_pos, c_neg = {}, {}
        for i, t in train:
            dst = c_pos if lab[i][0] else c_neg
            for f, n in feats(t).items():
                dst[f] = dst.get(f, 0) + n
        t_pos, t_neg = sum(c_pos.values()), sum(c_neg.values())
        w = {}
        for f in set(c_pos) | set(c_neg):
            w[f] = lnd((c_pos.get(f, 0) + 1) / (t_pos + D)) - lnd(
                (c_neg.get(f, 0) + 1) / (t_neg + D)
            )
        n_pos = sum(1 for i, _ in train if lab[i][0])
        n_neg = len(train) - n_pos
        bias = lnd(float(n_pos)) - lnd(float(n_neg))
        score_d = {}
        for i, t in cls.DOCS:
            tf = feats(t)
            s = (
                sum(
                    (
                        decimal.Decimal(n) * w.get(f, decimal.Decimal(0))
                        for f, n in tf.items()
                    ),
                    decimal.Decimal(0),
                )
                + bias
            )
            score_d[i] = (len(tf), s)
        sp = [score_d[i][1] for i, _ in train if lab[i][0]]
        sn = [score_d[i][1] for i, _ in train if not lab[i][0]]
        thr = (
            float(sum(sp, decimal.Decimal(0))) / len(sp)
            + float(sum(sn, decimal.Decimal(0))) / len(sn)
        ) / 2
        out = {}
        for i, _ in cls.DOCS:
            n_feat, sd = score_d[i]
            pred = float(sd) > thr
            out[i] = (
                lab[i][1],
                lab[i][0],
                n_feat,
                float(sd),
                pred,
                pred == lab[i][0],
            )
        return out

    def test_fixture_has_both_labels_in_train(self):
        """Guard: the tiny corpus must put both classes in the labeled
        slice or the replica (and the operator) degenerates."""
        w = self._replica()
        train_labels = {v[1] for v in w.values() if v[0]}
        assert train_labels == {True, False}

    def test_matches_python_replica(self, spark, tmp_path):
        from cs422pp_mapreduce_spark.operators.textops import (
            q_quality_classifier,
        )

        sf = str(tmp_path / "sf")
        spark.createDataFrame(
            [(i, t, "en", "src0") for i, t in self.DOCS],
            "doc_id long, text string, lang string, source string",
        ).write.parquet(sf + "/documents.parquet")
        got = {
            r["doc_id"]: (
                r["is_train"],
                r["label_hi"],
                r["n_feat"],
                r["score"],
                r["pred_hi"],
                r["correct"],
            )
            for r in q_quality_classifier(spark, sf).collect()
        }
        want = self._replica()
        assert set(got) == set(want)
        for i in want:
            assert got[i] == want[i], (i, got[i], want[i])

    def test_learns_distilled_label_on_fixture(self, spark):
        """The distilled quality label is genuinely learnable from
        hashed n-grams + the length-decile doc-stat features:
        train-slice accuracy must clear 90% and the held-out slice
        must beat the majority-class rate by ≥0.1 (measured ~0.99 /
        ~0.86 vs 0.63 majority at sf0.001)."""
        from cs422pp_mapreduce_spark.operators.textops import (
            q_quality_classifier,
        )

        rows = q_quality_classifier(spark, SF_SMOKE).collect()
        assert len(rows) == 500  # one row per document
        train = [r for r in rows if r["is_train"]]
        test = [r for r in rows if not r["is_train"]]
        acc = sum(r["correct"] for r in train) / len(train)
        assert acc > 0.9, acc
        acc_t = sum(r["correct"] for r in test) / len(test)
        base = max(
            sum(r["label_hi"] for r in test),
            sum(not r["label_hi"] for r in test),
        ) / len(test)
        assert acc_t > base + 0.1, (acc_t, base)

    def test_report_consistent_with_decisions(self, spark):
        """q_quality_classifier_report's confusion counts must equal
        the per-doc decision table aggregated in Python, and the
        derived rates must be the exact count ratios."""
        from cs422pp_mapreduce_spark.operators.textops import (
            q_quality_classifier,
            q_quality_classifier_report,
        )

        rows = q_quality_classifier(spark, SF_SMOKE).collect()
        rep = {
            r["split"]: r
            for r in q_quality_classifier_report(spark, SF_SMOKE).collect()
        }
        assert set(rep) == {"train", "heldout"}
        for split in rep:
            sel = [
                r for r in rows if r["is_train"] == (split == "train")
            ]
            tp = sum(r["pred_hi"] and r["label_hi"] for r in sel)
            fp = sum(r["pred_hi"] and not r["label_hi"] for r in sel)
            fn = sum(not r["pred_hi"] and r["label_hi"] for r in sel)
            tn = sum(not r["pred_hi"] and not r["label_hi"] for r in sel)
            g = rep[split]
            assert (g["tp"], g["fp"], g["fn"], g["tn"]) == (tp, fp, fn, tn)
            assert g["n_docs"] == len(sel)
            assert g["accuracy"] == (tp + tn) / len(sel)

    def test_deterministic(self, spark):
        from cs422pp_mapreduce_spark.operators.textops import (
            q_quality_classifier,
        )

        a = sorted(
            map(tuple, q_quality_classifier(spark, SF_SMOKE).collect())
        )
        b = sorted(
            map(tuple, q_quality_classifier(spark, SF_SMOKE).collect())
        )
        assert a == b


class TestDecontaminateSemantic:
    """Embedding-tier decontamination: planted-twin recall, clean-raw
    specificity, and the affected-docs output contract."""

    @staticmethod
    def _eval_ids(spark):
        from cs422pp_mapreduce_spark.sources.catalog import load_table

        ids = [
            r["vec_id"]
            for r in load_table(spark, SF_SMOKE, "embeddings")
            .select("vec_id")
            .collect()
        ]
        return {i for i in ids if _bucket100(str(i)) < 2}, set(ids)

    def test_planted_twins_flagged(self, spark):
        from cs422pp_mapreduce_spark.operators.similarity import (
            PLANT_OFFSET,
            q_decontaminate_semantic,
        )

        ev, _ = self._eval_ids(spark)
        assert ev, "fixture must contain eval vectors"
        rows = {
            r["vec_id"]: r
            for r in q_decontaminate_semantic(spark, SF_SMOKE).collect()
        }
        for e in ev:
            twin = e + PLANT_OFFSET
            assert twin in rows, f"twin {twin} produced no candidates"
            assert rows[twin]["contaminated"], rows[twin]
            assert rows[twin]["n_eval_near"] >= 1

    def test_raw_vectors_never_verified(self, spark):
        """Uniform raw embeddings (max pairwise cos ≈ 0.51) can band-
        collide but never pass the 0.95 verify: every contaminated row
        is a planted twin."""
        from cs422pp_mapreduce_spark.operators.similarity import (
            PLANT_OFFSET,
            q_decontaminate_semantic,
        )

        ev, all_ids = self._eval_ids(spark)
        rows = q_decontaminate_semantic(spark, SF_SMOKE).collect()
        for r in rows:
            assert r["vec_id"] not in ev, "eval vectors are never output"
            if r["contaminated"]:
                assert r["vec_id"] >= PLANT_OFFSET, r
            assert r["n_eval_candidates"] >= r["n_eval_near"]
        # the rejection tier actually fires at fixture scale
        assert any(
            r["n_eval_candidates"] > r["n_eval_near"] for r in rows
        ), "expected chance band collisions exercising the verify-reject path"


class TestStreamQualityGate:
    """The streaming ingest gate must equal the batch classifier
    exactly (stateless per doc given the model), admit the
    calibrated keep-fraction, and emit every document exactly once."""

    def test_stream_equals_batch(self, spark):
        from cs422pp_mapreduce_spark.operators.textops import (
            q_quality_classifier,
        )
        from cs422pp_mapreduce_spark.streaming.quality import (
            q_stream_quality_gate,
        )

        got = {
            r["doc_id"]: (r["n_grams"], r["score"], r["admit"])
            for r in q_stream_quality_gate(spark, SF_SMOKE).collect()
        }
        batch = {
            r["doc_id"]: (r["score"], r["pred_hi"])
            for r in q_quality_classifier(spark, SF_SMOKE).collect()
        }
        assert set(got) == set(batch), "every doc emitted exactly once"
        for d, (n_grams, score, admit) in got.items():
            assert n_grams >= 1
            assert score == batch[d][0], (d, score, batch[d][0])
            assert admit == batch[d][1]

    def test_emits_each_doc_once(self, spark):
        from cs422pp_mapreduce_spark.streaming.quality import (
            q_stream_quality_gate,
        )

        rows = q_stream_quality_gate(spark, SF_SMOKE).collect()
        ids = [r["doc_id"] for r in rows]
        assert len(ids) == len(set(ids)) == 500
