"""Sources (S1-S3), tokenize-align stage, ensemble scorer (N10), salting,
streaming bridge, spark-submit entry."""

import json
import os

import pyspark.sql.functions as F

from relation_extraction_spark.operators.ensemble import EnsembleScorer
from relation_extraction_spark.operators.scorer import SurrogateScorer
from relation_extraction_spark.operators.skew import hot_keys, salted_agg
from relation_extraction_spark.operators.tokenize import (
    segment_words,
    tokenize_df,
    vocab_from_embeddings,
)
from relation_extraction_spark.sources.jsonl import (
    docs_to_triples,
    read_doc_spo_jsonl,
    triples_to_doc_json,
)
from relation_extraction_spark.synthetic import documents_df, gen_row


def test_jsonl_roundtrip(spark, tmp_path):
    lines = [
        {"text": "甲的妻子是乙。", "spo_list": [
            {"subject_type": "人物", "subject": "甲", "predicate": "妻子",
             "object_type": {"@value": "人物"}, "object": {"@value": "乙"}}]},
        {"text": "无关系文本。", "spo_list": []},
    ]
    p = tmp_path / "corpus.jsonl"
    p.write_text("\n".join(json.dumps(x, ensure_ascii=False) for x in lines), encoding="utf-8")

    docs = read_doc_spo_jsonl(spark, str(p))
    assert docs.count() == 2
    triples = docs_to_triples(docs)
    assert triples.count() == 1
    rendered = triples_to_doc_json(triples, docs).collect()
    parsed = [json.loads(r["json_line"]) for r in rendered]
    by_text = {d["text"]: d for d in parsed}
    assert by_text["甲的妻子是乙。"]["spo_list"][0]["subject"] == "甲"
    assert by_text["无关系文本。"]["spo_list"] == []


def test_tokenize_df(spark):
    docs = documents_df(spark, 40)
    out = tokenize_df(docs, vocab={"中国": 7}).collect()
    assert len(out) == 40
    r = out[0]
    assert len(r["tokens"]) == len(r["starts"]) == len(r["ends"]) == len(r["hand"]) == len(r["b2w"])
    assert len(r["w2v_ids"]) == len(r["tokens"])
    # b2w is monotonically non-decreasing (tokens map to ordered words)
    assert all(a <= b for a, b in zip(r["b2w"], r["b2w"][1:]))


def test_segment_words_offsets():
    text = "记者 从 现场获悉，《神作1》上映。"
    words = segment_words(text)
    for w, s, e in words:
        assert text[s:e + 1] == w


def test_vocab_from_embeddings(spark):
    emb = spark.createDataFrame([(0, 2), (1, 0), (2, 1)], "vec_id int, label int")
    v = vocab_from_embeddings(emb)
    assert v == {"0": 1, "1": 2, "2": 3}


def test_ensemble_scorer_voting():
    """3 scorers weighted [0.4, 0.4, 0.2]: points fired by the two 0.4 models
    survive (0.8 > 0.5); a point fired only by the 0.2 model does not."""
    base = SurrogateScorer()

    class Silent:
        def score(self, text):
            t, s, e, _, wm, _ = base.score(text)
            import numpy as np
            return t, s, e, {}, np.zeros(len(t), dtype=bool), {}

    text = gen_row(0)["text"]  # author sentence
    ens_strong = EnsembleScorer([base, base, Silent()], [0.4, 0.4, 0.2])
    t, s, e, sbj, wm, obj = ens_strong.score(text)
    assert sbj  # survives 0.8 vote
    ens_weak = EnsembleScorer([Silent(), Silent(), base], [0.4, 0.4, 0.2])
    t, s, e, sbj, wm, obj = ens_weak.score(text)
    assert not sbj  # 0.2 < 0.5 threshold


def test_ensemble_in_pipeline():
    from relation_extraction_spark.operators.extract_triples import decode_document

    base = SurrogateScorer()
    ens = EnsembleScorer([base, base, base], [0.13, 0.49, 0.38])
    r = gen_row(3)
    assert decode_document(r["text"], ens) == decode_document(r["text"], base)


def test_salted_agg_matches_plain(spark):
    df = spark.range(10000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 13).alias("v"))
    plain = {(r["k"]): (r["cnt"], r["sum_v"]) for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"),
                                 F.sum("v").alias("sum_v")).collect()}
    salted = {(r["k"]): (r["cnt"], r["sum_v"]) for r in
              salted_agg(df, ["k"], {
                  "cnt": (F.count(F.lit(1)), F.sum("cnt")),
                  "sum_v": (F.sum("v"), F.sum("sum_v")),
              }, salt_buckets=8).collect()}
    assert plain == salted


def test_hot_keys(spark):
    docs = documents_df(spark, 300).withColumn(
        "domain", F.regexp_extract("url", "https://([^/]+)/", 1))
    hot = hot_keys(docs, "domain", threshold_ratio=0.03).collect()
    # the 3 hot domains (20% of rows) must surface
    assert len(hot) >= 3


def test_streaming_foreachbatch(spark, tmp_path):
    from relation_extraction_spark.streaming.stream import (
        start_extraction_stream,
        write_batch_idempotent,
    )

    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    documents_df(spark, 60).write.mode("overwrite").parquet(in_dir)
    q = start_extraction_stream(spark, in_dir, out_dir, ckpt)
    assert q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    n = got.count()
    assert n > 0
    assert set(got.columns) == {"url", "subject_type", "subject", "predicate",
                                "object_type", "object", "batch_id"}
    # foreachBatch is at-least-once: a RETRIED batch must replace its own
    # partition, not append a second copy (exactly-once sink semantics)
    some_batch = got.select("batch_id").head()["batch_id"]
    replay = got.where(F.col("batch_id") == some_batch).drop("batch_id")
    write_batch_idempotent(replay, int(some_batch), out_dir)
    assert spark.read.parquet(out_dir).count() == n


def test_spark_submit_entry(tmp_path):
    """Run the packaged pipeline exactly as spark-submit would."""
    import subprocess
    import sys

    env = dict(os.environ, PYTHONPATH="/root/repo", SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "/root/repo/scripts/run_pipeline.py",
         "--docs", "synthetic:80", "--out", str(tmp_path / "cat")],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    assert stats["triples"] > 0 and stats["canonical_edges"] > 0


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState: duplicates across micro-batches collapse to
    first-seen; state survives between batches via the checkpoint."""
    from relation_extraction_spark.streaming.stream import start_dedup_stream
    from relation_extraction_spark.synthetic import documents_df

    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    docs = documents_df(spark, 30)
    docs.write.mode("overwrite").parquet(in_dir)
    # duplicate delivery: same urls again as a second file batch
    docs.write.mode("append").parquet(in_dir)
    q = start_dedup_stream(spark, in_dir, out_dir, ckpt)
    assert q.awaitTermination(180)
    got = spark.read.parquet(out_dir)
    assert got.count() == 30
    assert got.select("url").distinct().count() == 30
    # restart with one more duplicate delivery: state says already-seen
    docs.write.mode("append").parquet(in_dir)
    q2 = start_dedup_stream(spark, in_dir, out_dir, ckpt)
    assert q2.awaitTermination(180)
    assert spark.read.parquet(out_dir).count() == 30


def test_first_seen_dedup_batch_map_columns(spark):
    """Map-typed columns (TRIPLE_SCHEMA shape) can't be window-ordered
    directly; the tiebreak serializes them via to_json instead of raising."""
    from relation_extraction_spark.streaming.stream import first_seen_dedup_batch

    rows = [
        ("u1", 2, {"@value": "b"}), ("u1", 1, {"@value": "a"}),
        ("u2", 5, {"@value": "c"}), ("u2", 5, {"@value": "a"}),
    ]
    df = spark.createDataFrame(rows, "url string, seq int, object map<string,string>")
    out = {r["url"]: r for r in
           first_seen_dedup_batch(df, order_cols=("seq",)).collect()}
    assert out["u1"]["seq"] == 1 and out["u1"]["object"] == {"@value": "a"}
    # equal seq → deterministic JSON tiebreak picks {"@value":"a"}
    assert out["u2"]["object"] == {"@value": "a"}


def test_windowed_stream_with_watermark(spark, tmp_path):
    """Watermarked event-time windows: windows older than the watermark
    finalize and append; a too-late row is dropped."""
    import datetime as dt

    from relation_extraction_spark.streaming.stream import start_windowed_counts_stream

    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows(hours, n, etype):
        return [(h * 1000 + i, base + dt.timedelta(hours=h, minutes=i % 50), 1, etype, 1.0)
                for h in hours for i in range(n)]

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    # run 1: hours 0-2 → final watermark = 02:49 - 1h = 01:49 → only the
    # hour-0 window finalizes (append mode emits closed windows only)
    spark.createDataFrame(rows([0, 1, 2], 5, "click"), schema) \
        .coalesce(1).write.mode("overwrite").parquet(in_dir)
    q = start_windowed_counts_stream(spark, in_dir, out_dir, ckpt)
    assert q.awaitTermination(180)
    got1 = {(r["win_start"].hour, r["event_type"]) for r in
            spark.read.parquet(out_dir).collect()}
    assert (0, "click") in got1 and (2, "click") not in got1

    # run 2 (checkpoint restores the watermark): hour-10 rows advance it to
    # 9:xx → hours 1-2 finalize; a too-late hour-0 row is dropped
    late = [(9999, base + dt.timedelta(minutes=3), 1, "late", 1.0)]
    spark.createDataFrame(rows([10], 5, "view") + late, schema) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q2 = start_windowed_counts_stream(spark, in_dir, out_dir, ckpt)
    assert q2.awaitTermination(180)
    got = {(r["win_start"].hour, r["event_type"]): r["n"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got.get((0, "click")) == 5 and got.get((1, "click")) == 5
    assert got.get((2, "click")) == 5
    assert (10, "view") not in got          # hour 10 not yet finalized
    assert not any(k[1] == "late" for k in got)  # dropped behind watermark


def test_ensemble_float_probability_maps():
    """Real-valued ensemble semantics (reference main.py:744-762): weighted
    AVERAGE of probability maps against the 0.5 threshold, with pow
    sharpening (model/hbt.py:117-120) — not thresholded voting."""
    import numpy as np

    base = SurrogateScorer()
    text = gen_row(0)["text"]

    def dense_scorer(p):
        class D:
            def score(self, text2):
                t2, s2, e2, sbj2, wm2, obj2 = base.score(text2)

                def d(m):
                    out = {}
                    for ch, (si, ei) in m.items():
                        ds = np.zeros(len(t2)); ds[si] = p
                        de = np.zeros(len(t2)); de[ei] = p
                        out[ch] = (ds, de)
                    return out

                # word_mask is a plain list since round 8 — lift to float np
                return (t2, s2, e2, d(sbj2), np.asarray(wm2, dtype=float) * p,
                        {k: d(v) for k, v in obj2.items()})
        return D()

    def points(sbj):
        return {ch: (tuple(s), tuple(e)) for ch, (s, e) in sbj.items()}

    _, _, _, sbj_base, _, _ = base.score(text)

    # avg(0.7, 0.6) = 0.65 > 0.5 → identical points to the binary base
    _, _, _, sbj, _, _ = EnsembleScorer(
        [dense_scorer(0.7), dense_scorer(0.6)], [0.5, 0.5]).score(text)
    assert points(sbj) == points(sbj_base)

    # avg(0.7, 0.2) = 0.45 < 0.5 → silent (a voting scheme would fire here:
    # both models "agree", but their average confidence is below threshold)
    _, _, _, sbj2, _, _ = EnsembleScorer(
        [dense_scorer(0.7), dense_scorer(0.2)], [0.5, 0.5]).score(text)
    assert not sbj2

    # pow sharpening: 0.5·0.7² + 0.5·0.6² = 0.425 < 0.5 → silent at power=2
    _, _, _, sbj3, _, _ = EnsembleScorer(
        [dense_scorer(0.7), dense_scorer(0.6)], [0.5, 0.5], power=2.0).score(text)
    assert not sbj3

    # mixed sparse + dense: 0.4·1.0 + 0.6·0.3 = 0.58 > 0.5 → fires
    _, _, _, sbj4, _, _ = EnsembleScorer(
        [base, dense_scorer(0.3)], [0.4, 0.6]).score(text)
    assert points(sbj4) == points(sbj_base)


def test_dict_segmenter_longest_match_and_w3_clip():
    """DictSegmenter (pkuseg-compatible longest match) produces multi-char CJK
    words that flow into b2w, and the W3 >10-token clip snaps a runaway span
    to the word-run boundary those words induce."""
    import numpy as np

    from relation_extraction_spark.operators.decode import (
        decode_channel,
        word_limit_maps,
    )
    from relation_extraction_spark.operators.tokenize import (
        DictSegmenter,
        tokenize_document,
    )

    text = "阿里巴巴集团控股有限公司在杭州市"
    seg = DictSegmenter(["阿里巴巴", "集团", "控股", "有限公司", "杭州"])
    words = seg(text)
    assert [w[0] for w in words] == ["阿里巴巴", "集团", "控股", "有限公司", "在", "杭州", "市"]
    assert all(text[s:e + 1] == w for w, s, e in words)

    row = tokenize_document("u", text, {}, None, seg)
    assert row["b2w"] == [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 3, 3, 4, 5, 5, 6]

    # word mask: tokens inside multi-char dictionary words
    mask = np.zeros(len(row["tokens"]), dtype=bool)
    mask[0:12] = True   # 阿里巴巴集团控股有限公司
    mask[13:15] = True  # 杭州
    ps, pe = word_limit_maps(mask)
    keys, _groups = decode_channel(
        row["tokens"], np.array([0]), np.array([12]), ps, pe)
    # span (0,12) is 12 tokens (> CLIP_LEN): forward pass clips the end to
    # the word-run limit 11 → the full company name, not 名+在
    assert tuple("阿里巴巴集团控股有限公司") in keys


def test_real_lexicon_w3_clip_statistics():
    """DictSegmenter over the SHIPPED 2.2k-word lexicon (stand-in for the
    pkuseg model, reference data/lic_2020.py:577-596), W3 clip statistics
    over the synthetic corpus vs the vocab-free segmenter: runaway spans
    starting inside a multi-token dictionary word snap to DICTIONARY-word
    boundaries, and the clip surfaces differ from the whole-CJK-run
    segmentation's."""
    import numpy as np

    from relation_extraction_spark.operators.decode import (
        CLIP_LEN,
        MIN_KEEP,
        decode_channel,
        word_limit_maps,
    )
    from relation_extraction_spark.operators.tokenize import (
        DictSegmenter,
        load_cjk_lexicon,
        tokenize_document,
    )

    lex = load_cjk_lexicon()
    assert len(lex) >= 2000 and all(len(w) >= 2 for w in lex)
    lexset = set(lex)
    seg = DictSegmenter(lex)

    def clip_surfaces(segmenter):
        out = []
        for i in range(80):
            text = gen_row(i)["text"]
            row = tokenize_document(f"u{i}", text, {}, None, segmenter)
            toks = row["tokens"]
            b2w = np.array(row["b2w"])
            n = len(toks)
            mask = np.zeros(n, dtype=bool)
            if n >= 2:
                same = b2w[:-1] == b2w[1:]
                mask[:-1] |= same
                mask[1:] |= same
            ps, pe = word_limit_maps(mask)
            for s in range(n):
                at_run_start = mask[s] and (s == 0 or not mask[s - 1])
                e = n - 1
                if (at_run_start and e - s > CLIP_LEN
                        and pe[s] - s > MIN_KEEP and e > pe[s]):
                    keys, _ = decode_channel(
                        toks, np.array([s]), np.array([e]), ps, pe)
                    surfaces = {"".join(k) for k in keys}
                    clipped = "".join(toks[s:int(pe[s]) + 1])
                    # the forward pass must emit the span clipped to the
                    # word-run limit (the backward pass adds the unclipped
                    # pair — reference decodes both directions)
                    assert clipped in surfaces, (clipped, surfaces)
                    out.append(clipped)
        return out

    with_lex = clip_surfaces(seg)
    vocab_free = clip_surfaces(None)
    assert len(with_lex) >= 5
    # every pure-CJK clipped surface decomposes into dictionary words — the
    # snap lands on word boundaries the lexicon induces, never mid-word.
    # (Runs may also chain through [unusedX] space sentinels, which attach to
    # the previous word per char2word_map's fallback — those carry sentinel
    # tokens and are excluded from the dictionary check.)
    import re

    cjk_only = [s for s in with_lex if re.fullmatch(r"[一-龥]+", s)]
    assert len(cjk_only) >= 5
    for srf in cjk_only:
        assert all(w in lexset for w, _, _ in seg(srf)), srf
    # the vocab-free segmenter treats whole CJK runs as words → different
    # masks, different snap points
    assert set(with_lex) != set(vocab_free)


def test_ensemble_pluggable_combiner():
    """Learned-combiner hook (reference model/combine.py:27-33): any
    per-channel merge of the stacked [k, n] model maps replaces the default
    weighted average; the default reproduces the weighted-average path."""
    import numpy as np

    base = SurrogateScorer()
    text = gen_row(0)["text"]

    def points(sbj):
        return {ch: (tuple(s), tuple(e)) for ch, (s, e) in sbj.items()}

    default = EnsembleScorer([base, base], [0.5, 0.5]).score(text)[3]
    # a "learned" max-combiner: fires when ANY model fires
    maxed = EnsembleScorer([base, base], [0.5, 0.5],
                           combiner=lambda st: st.max(axis=0)).score(text)[3]
    assert points(maxed) == points(default)  # identical models → same points
    # a veto combiner that zeroes everything → silent ensemble
    silent = EnsembleScorer([base, base], [0.5, 0.5],
                            combiner=lambda st: st.min(axis=0) * 0.0).score(text)[3]
    assert not silent


def test_cross_channel_combiner_hand_computed():
    """LinearCrossChannelCombiner replicates the reference Combine head's
    shape (model/combine.py:27-33, 53-63): sigmoid(W2·(W1·x + b1) + b2) over
    the concatenated [models × channels × start/end] vector per token.
    Checked against hand-computed values on a 2-model / 2-channel / 3-token
    fixture."""
    import numpy as np

    from relation_extraction_spark.operators.ensemble import (
        LinearCrossChannelCombiner,
    )

    chans = ["妻子", "作者"]
    cc = LinearCrossChannelCombiner.mean_fixture(chans, n_models=2, bias=-0.6)
    stacks = {
        "妻子": (np.array([[0.9, 0.2, 0.0], [0.5, 0.9, 0.0]]),   # start, k=2
                 np.array([[0.0, 0.0, 0.9], [0.0, 0.0, 0.7]])),  # end
        # 作者 absent → zero maps
    }
    out = cc(stacks, 3)
    sig = lambda x: 1.0 / (1.0 + np.exp(-x))  # noqa: E731
    # 妻子 start means: [0.7, 0.55, 0.0] → sigmoid(mean - 0.6)
    np.testing.assert_allclose(out["妻子"][0], sig(np.array([0.1, -0.05, -0.6])))
    np.testing.assert_allclose(out["妻子"][1], sig(np.array([-0.6, -0.6, 0.2])))
    # absent channel: sigmoid(-0.6) ≈ 0.354 < 0.5 everywhere → never fires
    assert (out["作者"][0] < 0.5).all() and (out["作者"][1] < 0.5).all()
    # thresholded at 0.5: 妻子 fires start@0 and end@2 only
    assert list(np.nonzero(out["妻子"][0] > 0.5)[0]) == [0]
    assert list(np.nonzero(out["妻子"][1] > 0.5)[0]) == [2]


def test_cross_channel_combiner_mixes_across_channels():
    """The dense W2 lets channel A's decision depend on channel B's maps —
    the cross-channel coupling a per-channel combiner cannot express — and
    the hook runs end-to-end inside EnsembleScorer.score."""
    import numpy as np

    from relation_extraction_spark.operators.ensemble import (
        LinearCrossChannelCombiner,
    )

    chans = ["A", "B"]
    d_in = 1 * 2 * 2  # k=1 model
    w2 = np.zeros((4, d_in))
    w2[0, 0] = 1.0  # A-start reads A-start...
    w2[0, 2] = 1.0  # ...AND B-start (cross-channel term)
    cc = LinearCrossChannelCombiner(
        chans, 1, np.eye(d_in), np.zeros(d_in), w2, np.full(4, -0.6))

    def scorer(b_start):
        class S:
            def score(self, text):
                n = 3
                a = (np.array([0.4, 0.0, 0.0]), np.zeros(n))
                b = (np.array([b_start, 0.0, 0.0]), np.zeros(n))
                return (["x", "y", "z"], [0, 1, 2], [0, 1, 2],
                        {"A": a, "B": b}, np.zeros(n), {})
        return S()

    def fire(b_start):
        sbj = EnsembleScorer([scorer(b_start)], [1.0],
                             cross_combiner=cc).score("xyz")[3]
        return "A" in sbj

    # A alone: sigmoid(0.4 - 0.6) < 0.5 → silent; raising B flips A's decision
    assert not fire(0.0)
    assert fire(0.4)  # sigmoid(0.4 + 0.4 - 0.6) = sigmoid(0.2) > 0.5


def test_ensemble_empty_sparse_channel():
    """A scorer returning plain empty lists for a channel is a silent
    channel, not a crash (np.asarray([]) is float64 — must not be routed to
    the dense-prob branch)."""
    base = SurrogateScorer()

    class EmptyLists:
        def score(self, text):
            t, s, e, sbj, wm, obj = base.score(text)
            return t, s, e, {0: ([], [])}, wm, {"李明0": {0: ([], [])}}

    text = gen_row(0)["text"]
    _, _, _, sbj, _, obj = EnsembleScorer(
        [base, EmptyLists()], [0.6, 0.4]).score(text)
    assert sbj  # base's 0.6 weight alone crosses 0.5


def test_warc_source_roundtrip(spark, tmp_path):
    """WARC/1.0 ingestion (the Common-Crawl front door): synthesized
    archives — plain and per-record-gzipped like CC — parse back to the
    documents-table shape; non-response records are skipped; the html body
    excludes the HTTP header block; extraction composes downstream."""
    import datetime as dt

    from relation_extraction_spark.operators.extract_triples import extract_text_df
    from relation_extraction_spark.sources.warc import read_warc, write_warc_bytes

    recs = [
        {"url": f"https://w{i}.example/p", "html": f"<p>doc {i} text</p>".encode(),
         "warc_ts": dt.datetime(2026, 3, 1, 12, 0, i)}
        for i in range(5)
    ]
    # a warcinfo record up front must be skipped by the parser
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
            b"software\n\r\n\r\n")
    (tmp_path / "a.warc").write_bytes(info + write_warc_bytes(recs[:3]))
    (tmp_path / "b.warc.gz").write_bytes(write_warc_bytes(recs[3:], compress=True))

    docs = read_warc(spark, str(tmp_path / "*.warc*"))
    got = {r["url"]: r for r in docs.collect()}
    assert len(got) == 5
    for rec in recs:
        row = got[rec["url"]]
        assert bytes(row["html"]) == rec["html"]        # HTTP headers stripped
        assert row["warc_ts"] == rec["warc_ts"]
        assert row["text"] is None and row["lang"] is None
    # composes with the extraction front door
    texts = {r["url"]: r["text"] for r in extract_text_df(docs).collect()}
    assert texts["https://w2.example/p"] == "doc 2 text"


def test_warc_source_malformed_tail(spark, tmp_path):
    """Length-delimited records: garbage appended after the last record
    must not corrupt the parsed ones (the scan just stops)."""
    import datetime as dt

    from relation_extraction_spark.sources.warc import read_warc, write_warc_bytes

    good = write_warc_bytes([
        {"url": "https://ok.example/", "html": b"<p>x</p>",
         "warc_ts": dt.datetime(2026, 1, 1)}])
    (tmp_path / "t.warc").write_bytes(good + b"WARC/1.0\r\ntrunca")
    rows = read_warc(spark, str(tmp_path / "t.warc")).collect()
    assert len(rows) == 1 and rows[0]["url"] == "https://ok.example/"


def test_warc_date_fractional_seconds_kept(caplog):
    """WARC/1.1 (and newer CC segments) carry fractional-second dates;
    those records must be KEPT, and genuinely unparseable dates must be
    counted+warned, never silently dropped (round-5 ADVICE)."""
    import datetime as dt
    import logging

    from relation_extraction_spark.sources import warc
    from relation_extraction_spark.sources.warc import (
        parse_warc_bytes,
        write_warc_bytes,
    )

    base = write_warc_bytes([
        {"url": "https://a.example/", "html": b"<p>a</p>",
         "warc_ts": dt.datetime(2023, 1, 1)}])
    frac = base.replace(b"WARC-Date: 2023-01-01T00:00:00Z",
                        b"WARC-Date: 2023-01-01T00:00:00.123Z")
    bad = base.replace(b"WARC-Date: 2023-01-01T00:00:00Z",
                       b"WARC-Date: not-a-date-at-allZZZ")
    assert len(frac) == len(base) + 4 and len(bad) == len(base)  # in-place

    recs = parse_warc_bytes(frac)
    assert len(recs) == 1
    assert recs[0]["warc_ts"] == dt.datetime(2023, 1, 1, 0, 0, 0, 123000)

    with caplog.at_level(logging.WARNING, logger=warc.__name__):
        assert parse_warc_bytes(bad) == []
        assert any("skipped 1" in r.message for r in caplog.records)


def test_warc_streaming_parse_constant_memory():
    """Round-5 verdict ask #5: the ingest parse must be member-streaming —
    Python-side peak stays O(largest record + 8 MB slice), NOT O(whole
    decompressed shard). 192 members × 1 MiB payload = 192 MiB inflated;
    the whole-shard gzip.decompress of round 5 would allocate all of it,
    the streaming parse must stay under ~48 MiB of tracked allocations."""
    import datetime as dt
    import tracemalloc

    from relation_extraction_spark.sources.warc import (
        iter_warc_records,
        write_warc_bytes,
    )

    payload = b"x" * (1 << 20)
    shard = write_warc_bytes(
        [{"url": f"https://m.example/{i}", "html": payload,
          "warc_ts": dt.datetime(2026, 1, 1)} for i in range(192)],
        compress=True)

    tracemalloc.start()
    n = 0
    for rec in iter_warc_records(shard):
        assert rec["html"] == payload
        n += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 192
    assert peak < 48 << 20, f"peak {peak >> 20} MiB — parse is not streaming"


def test_warc_single_member_archive_also_streams():
    """The spec allows one gzip member for the WHOLE file (not CC's
    member-per-record convention) — input is fed to zlib in 8 MB slices,
    so even that shape stays bounded and yields every record."""
    import datetime as dt
    import gzip
    import tracemalloc

    from relation_extraction_spark.sources.warc import (
        iter_warc_records,
        write_warc_bytes,
    )

    plain = write_warc_bytes(
        [{"url": f"https://s.example/{i}", "html": b"y" * (1 << 20),
          "warc_ts": dt.datetime(2026, 1, 2)} for i in range(96)])
    one_member = gzip.compress(plain)

    tracemalloc.start()
    urls = [r["url"] for r in iter_warc_records(one_member)]
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert urls == [f"https://s.example/{i}" for i in range(96)]
    assert peak < 48 << 20, f"peak {peak >> 20} MiB — parse is not streaming"


def test_warc_corrupt_member_keeps_prior_records(caplog):
    """A corrupt gzip member mid-shard must not throw: records decompressed
    before it survive, the corruption is logged, the scan stops."""
    import datetime as dt
    import logging

    from relation_extraction_spark.sources import warc
    from relation_extraction_spark.sources.warc import (
        parse_warc_bytes,
        write_warc_bytes,
    )

    good = write_warc_bytes(
        [{"url": "https://ok.example/", "html": b"<p>ok</p>",
          "warc_ts": dt.datetime(2026, 1, 3)}], compress=True)
    corrupt = bytearray(write_warc_bytes(
        [{"url": "https://bad.example/", "html": b"<p>bad</p>",
          "warc_ts": dt.datetime(2026, 1, 3)}], compress=True))
    # first deflate byte sits after the 10-byte gzip header; BTYPE=11 is
    # reserved → deterministic zlib.error before ANY output is produced
    corrupt[10] |= 0x06

    with caplog.at_level(logging.WARNING, logger=warc.__name__):
        recs = parse_warc_bytes(good + bytes(corrupt))
    assert [r["url"] for r in recs] == ["https://ok.example/"]
    assert any("corrupt gzip member" in r.message for r in caplog.records)


def test_ascii_declaration_decodes_as_utf8_both_lanes(spark):
    """A page declaring us-ascii whose bytes are valid UTF-8 with
    multibyte chars must decode identically on the JVM fast path
    (decoded_html zero-copy cast) and the Python sniff lane
    (extract_text_bytes) — strict-ascii decoding would U+FFFD the CJK on
    one lane only (round-6 review)."""
    from relation_extraction_spark.operators.extract_triples import (
        _sniff_encoding,
        decoded_html,
        extract_text_bytes,
    )

    html = ('<html><head><meta charset="us-ascii"></head>'
            "<body>中文内容</body></html>").encode("utf-8")
    assert _sniff_encoding(html) == "utf-8"
    assert extract_text_bytes(html) == "中文内容"
    [row] = (spark.createDataFrame([(html,)], "html binary")
             .select(decoded_html(F.col("html")).alias("t")).collect())
    assert "中文内容" in row["t"]


def test_warc_framing_garbage_is_terminal_no_resync():
    """Framing garbage must END the scan like the old batch parse did —
    a later gzip member whose chunk happens to start with 'WARC/' must
    not silently resync and emit records the batch semantics dropped
    (round-6 review: _drain only cleared the current buffer)."""
    import datetime as dt
    import gzip

    from relation_extraction_spark.sources.warc import (
        parse_warc_bytes,
        write_warc_bytes,
    )

    good = write_warc_bytes(
        [{"url": "https://ok.example/", "html": b"<p>ok</p>",
          "warc_ts": dt.datetime(2026, 1, 3)}], compress=True)
    garbage = gzip.compress(b"NOT-A-WARC-RECORD trailing junk")
    later = write_warc_bytes(
        [{"url": "https://late.example/", "html": b"<p>late</p>",
          "warc_ts": dt.datetime(2026, 1, 3)}], compress=True)
    recs = parse_warc_bytes(good + garbage + later)
    assert [r["url"] for r in recs] == ["https://ok.example/"]


def test_meta_charset_non_text_codec_does_not_crash():
    """<meta charset=hex> (or base64/zlib/rot13) names a registered codec
    that is NOT a text encoding — bytes.decode raises LookupError for it.
    On untrusted web input one such page must fall back to utf-8, never
    kill the Arrow task (round-5 ADVICE, medium)."""
    from relation_extraction_spark.operators.extract_triples import (
        extract_text_bytes,
    )

    for codec in ("hex", "base64", "zlib", "rot13", "bz2"):
        page = f'<html><head><meta charset={codec}></head><body><p>safe ünïcode</p></body></html>'.encode()
        assert extract_text_bytes(page) == "safe ünïcode"


def test_frontier_min_referrer_chunk_invariant():
    """The first-seen referrer is the GLOBAL (src, anchor) min over all
    pandas chunks of the group — any chunking of the same rows yields the
    identical answer (round-5 ADVICE: first-non-empty-chunk was
    nondeterministic across replays)."""
    import pandas as pd

    from relation_extraction_spark.streaming.stream import _min_referrer

    rows = [("https://z.example/p", "zz", "https://d.example/"),
            ("https://a.example/p", "aa", "https://d.example/"),
            ("https://m.example/p", "mm", "https://d.example/")]

    def pdf(sl):
        return pd.DataFrame(sl, columns=["src", "anchor", "dst"])

    chunkings = [
        [pdf(rows)],
        [pdf(rows[:1]), pdf(rows[1:])],
        [pdf(rows[:2]), pdf([]), pdf(rows[2:])],
        [pdf([r]) for r in reversed(rows)],
    ]
    answers = {tuple(_min_referrer(c).iloc[0][["src", "anchor"]])
               for c in chunkings}
    assert answers == {("https://a.example/p", "aa")}
    assert _min_referrer(iter([pdf([])])) is None


def test_frontier_stream_discovers_each_url_once(spark, tmp_path):
    """Crawl-frontier composition: documents stream → extract_links →
    cross-batch first-seen dedup on the canonical destination. Re-crawled
    pages (duplicate delivery + restart) re-emit their links, but every
    destination url appears in the frontier exactly once; the discovered
    set equals the batch link graph's distinct destinations."""
    import datetime as dt

    from relation_extraction_spark.operators.web import extract_links
    from relation_extraction_spark.streaming.stream import start_frontier_stream

    def page(i):
        html = (f'<a href="https://t{i % 6}.example/x">A</a>'
                f'<a href="/local{i % 4}">B</a>'
                f'<a href="#skip">C</a>').encode()
        return (f"https://src{i}.example/p", dt.datetime(2026, 4, 1, 0, 0, i),
                html, None, None)

    rows = [page(i) for i in range(12)]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string")
    in_dir, out_dir, ckpt = (str(tmp_path / "in"), str(tmp_path / "out"),
                             str(tmp_path / "ck"))
    docs.write.mode("overwrite").parquet(in_dir)
    docs.write.mode("append").parquet(in_dir)  # re-crawl: duplicate delivery
    q = start_frontier_stream(spark, in_dir, out_dir, ckpt)
    assert q.awaitTermination(180)
    got = spark.read.parquet(out_dir)
    want = (extract_links(docs, canonicalize=True)
            .select("dst").distinct())
    n_want = want.count()
    assert got.count() == n_want                      # exactly once each
    assert got.select("dst").distinct().count() == n_want
    assert {r["dst"] for r in got.collect()} == {r["dst"] for r in want.collect()}
    # restart with another duplicate delivery: state says already-discovered
    docs.write.mode("append").parquet(in_dir)
    q2 = start_frontier_stream(spark, in_dir, out_dir, ckpt)
    assert q2.awaitTermination(180)
    assert spark.read.parquet(out_dir).count() == n_want


def test_kg_merge_stream_exactly_once(spark, tmp_path):
    """Continuous KG maintenance: two triple batches land and fold into the
    catalog table across a stream RESTART (same checkpoint); the live view
    equals the batch-sequential merge_delta, a functional-predicate conflict
    is adjudicated, and a simulated at-least-once replay of an already-folded
    batch is a no-op (no new delta or snapshot, same contents)."""
    from relation_extraction_spark.plans.catalog import Catalog
    from relation_extraction_spark.streaming.stream import (
        TRIPLES_STREAM_SCHEMA,
        fold_triples_batch_mor,
        read_merged_table,
        start_kg_merge_stream,
    )

    land = str(tmp_path / "landing")
    croot = str(tmp_path / "catalog")
    ckpt = str(tmp_path / "ckpt")

    b1 = [("https://a.com/1", "甲", "国籍", "中国", 10),
          ("https://b.com/1", "甲", "国籍", "中国", 11),
          ("https://e.com/1", "甲", "国籍", "泰国", 12),  # bootstrap conflict
          ("https://a.com/1", "甲", "主演", "戏1", 10)]
    b2 = [("https://c.com/1", "甲", "国籍", "法国", 20),   # weaker claim
          ("https://d.com/1", "乙", "主演", "戏2", 21)]

    def live():
        return {(r["subject"], r["predicate"], r["object"]):
                (r["status"], r["n_refs"])
                for r in read_merged_table(spark, croot).collect()}

    spark.createDataFrame(b1, TRIPLES_STREAM_SCHEMA) \
        .write.mode("append").parquet(land)
    assert start_kg_merge_stream(spark, land, croot, ckpt).awaitTermination(120)
    t1 = live()
    # the very first batch already adjudicates its functional conflict
    assert t1 == {("甲", "国籍", "中国"): ("added", 2),
                  ("甲", "国籍", "泰国"): ("retracted", 1),
                  ("甲", "主演", "戏1"): ("added", 1)}

    spark.createDataFrame(b2, TRIPLES_STREAM_SCHEMA) \
        .write.mode("append").parquet(land)
    assert start_kg_merge_stream(spark, land, croot, ckpt).awaitTermination(120)
    t2 = live()
    assert t2 == {("甲", "国籍", "中国"): ("carried", 2),
                  ("甲", "国籍", "泰国"): ("retracted", 1),
                  ("甲", "国籍", "法国"): ("retracted", 1),
                  ("甲", "主演", "戏1"): ("carried", 1),
                  ("乙", "主演", "戏2"): ("added", 1)}

    # at-least-once replay: re-folding batch 1 after batch 2 is committed
    # must be a no-op BEFORE any write
    cat = Catalog(spark, croot)
    before = (cat.committed_delta_ids("kg_edges"), cat.snapshots("kg_edges"))
    assert before == ([0, 1], [])  # two deltas, below compact_every
    replay = spark.createDataFrame(b1, TRIPLES_STREAM_SCHEMA)
    assert fold_triples_batch_mor(replay, 0, croot) is False
    assert (cat.committed_delta_ids("kg_edges"),
            cat.snapshots("kg_edges")) == before
    assert live() == t2


def test_warc_chunk_boundary_inside_record_separator():
    """Round-6 review fix: a decompressed-chunk boundary landing 1-3 bytes
    INSIDE the CRLFCRLF record separator must not desync the framing —
    every record parses for EVERY possible chunk split of the archive."""
    import datetime as dt

    from relation_extraction_spark.sources import warc as warc_mod
    from relation_extraction_spark.sources.warc import (
        iter_warc_records,
        write_warc_bytes,
    )

    plain = write_warc_bytes(
        [{"url": f"https://s.example/{i}", "html": b"body%d" % i,
          "warc_ts": dt.datetime(2026, 1, 2)} for i in range(3)])
    want = [f"https://s.example/{i}" for i in range(3)]

    # exhaustive: feed the plain archive as two chunks split at every
    # offset (covers separator-straddling splits) via the gzip path's
    # chunked drain by monkeypatching the chunk iterator
    orig = warc_mod._iter_decompressed
    try:
        for cut in range(1, len(plain)):
            warc_mod._iter_decompressed = (
                lambda data, c=cut: iter((plain[:c], plain[c:])))
            got = [r["url"] for r in iter_warc_records(b"\x1f\x8b-fake")]
            assert got == want, f"records lost at split offset {cut}"
    finally:
        warc_mod._iter_decompressed = orig


def test_kg_merge_stream_merge_on_read_mode(spark, tmp_path):
    """start_kg_merge_stream: batches land as delta files (O(|batch|)
    folds), the read view matches sequential merge_delta folds of the same
    batches across a restart, replayed landings stay no-ops, and compaction
    (compact_every=2) materialized a snapshot."""
    from relation_extraction_spark.operators.kg_delta import (
        merge_delta,
        triple_provenance,
    )
    from relation_extraction_spark.plans.catalog import Catalog
    from relation_extraction_spark.streaming.stream import (
        TRIPLES_STREAM_SCHEMA,
        read_merged_table,
        start_kg_merge_stream,
    )

    land = str(tmp_path / "landing")
    mor_root, ck_m = str(tmp_path / "mor"), str(tmp_path / "ckm")

    b1 = [("https://a.com/1", "甲", "国籍", "中国", 10),
          ("https://e.com/1", "甲", "国籍", "泰国", 12),
          ("https://a.com/1", "甲", "主演", "戏1", 10)]
    b2 = [("https://c.com/1", "乙", "主演", "戏2", 21)]

    def canon(df):
        cols = ["subject", "predicate", "object", "n_refs", "n_domains",
                "first_seen", "last_seen", "status"]
        return sorted(map(tuple, df.select(*cols).collect()))

    ref = None
    for batch in (b1, b2):
        df = spark.createDataFrame(batch, TRIPLES_STREAM_SCHEMA)
        df.write.mode("append").parquet(land)
        assert start_kg_merge_stream(spark, land, mor_root, ck_m,
                                     compact_every=2).awaitTermination(120)
        prov = triple_provenance(df, seen_col="ts")
        ref = merge_delta(prov.limit(0) if ref is None else ref, prov)
        assert canon(read_merged_table(spark, mor_root)) == canon(ref)
    # both batches folded and compacted into one snapshot, no deltas left
    cat = Catalog(spark, mor_root)
    assert cat.exists("kg_edges")
    assert cat.committed_delta_ids("kg_edges") == []
    # a replayed landing (restart with no new files) changes nothing
    before = canon(read_merged_table(spark, mor_root))
    assert start_kg_merge_stream(spark, land, mor_root, ck_m,
                                 compact_every=2).awaitTermination(120)
    assert canon(read_merged_table(spark, mor_root)) == before
