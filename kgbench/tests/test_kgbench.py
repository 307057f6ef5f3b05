"""The benchmark's own tests: generators, checks and the printed result.

    python3 -m pytest kgbench/tests -q

The two tiny end-to-end runs per workload start Spark and take a minute or
two each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402


def _warc_records(inputs: str) -> dict[str, bytes]:
    from relation_extraction_spark.sources.warc import parse_warc_bytes

    out = {}
    for f in sorted(os.listdir(os.path.join(inputs, "warc"))):
        with open(os.path.join(inputs, "warc", f), "rb") as fh:
            for r in parse_warc_bytes(fh.read()):
                out[r["url"]] = r["html"]
    return out


def test_web_pages_same_for_a_seed_whatever_the_shard_count(tmp_path):
    a, meta_a = gen.ensure_inputs(str(tmp_path / "a"), "web_pages", 5, "tiny", cores=1)
    b, meta_b = gen.ensure_inputs(str(tmp_path / "b"), "web_pages", 5, "tiny", cores=3)
    assert meta_a["shards"] != meta_b["shards"]
    recs = _warc_records(a)
    assert recs == _warc_records(b)
    assert len(recs) == meta_a["pages"] > meta_a["distinct_pages"]
    # the same call again reproduces the files byte for byte
    again, _ = gen.ensure_inputs(str(tmp_path / "c"), "web_pages", 5, "tiny", cores=1)
    for f in os.listdir(os.path.join(a, "warc")):
        with open(os.path.join(a, "warc", f), "rb") as x, \
                open(os.path.join(again, "warc", f), "rb") as y:
            assert x.read() == y.read()


def test_web_pages_differ_between_seeds():
    recs1, _, _ = gen.web_records(1, gen.params("web_pages", "tiny"))
    recs2, _, _ = gen.web_records(2, gen.params("web_pages", "tiny"))
    assert {r["url"] for r in recs1}.isdisjoint({r["url"] for r in recs2})


def test_web_page_opens_with_its_relation_text():
    from relation_extraction_spark.operators.extract_triples import extract_text_bytes

    recs, content, _ = gen.web_records(3, gen.params("web_pages", "tiny"))
    rows = gen.web_rows(3, len({v for v in content.values()}))
    for r in recs[:20]:
        text = extract_text_bytes(r["html"])
        assert text.split("\n", 1)[0] == rows[content[r["url"]]]["text"]


def test_kg_docs_same_for_a_seed_whatever_the_file_count(tmp_path):
    import pyarrow.parquet as pq

    p = gen.params("kg_build", "tiny")
    gen.build_kg(7, p, str(tmp_path / "a"))
    gen.build_kg(7, {**p, "files": 5}, str(tmp_path / "b"))
    ta = pq.read_table(str(tmp_path / "a" / "docs")).sort_by("url")
    tb = pq.read_table(str(tmp_path / "b" / "docs")).sort_by("url")
    assert ta.equals(tb) and ta.num_rows == p["docs"]


def test_generator_fingerprint_tracks_gen_row_and_parameters(monkeypatch):
    p = gen.params("kg_build", "tiny")
    before = gen.generator_fingerprint(p)
    assert gen.generator_fingerprint({**p, "docs": p["docs"] + 1}) != before
    real = gen.gen_row

    def changed(i):
        r = real(i)
        return {**r, "text": r["text"] + "。"}
    monkeypatch.setattr(gen, "gen_row", changed)
    assert gen.generator_fingerprint(p) != before


def _reference(n: int = 60):
    rows = gen.kg_rows(9, n)
    exp = check.expected_triples([(r["url"], r["text"]) for r in rows if r["lang"] == "zh"])
    gold = {gen.gold_key(r["url"], t) for r in rows for t in r["gold"]}
    return list(exp.elements()), exp, gold


def test_check_passes_the_reference_itself():
    rows, exp, gold = _reference()
    res = check.check_triples(rows, exp, gold)
    assert res.ok, res.problems
    assert res.precision == 1.0 and res.recall == 1.0


def test_check_fails_on_one_dropped_triple_row():
    rows, exp, gold = _reference()
    res = check.check_triples(rows[1:], exp, gold)
    assert not res.ok
    assert "1 missing" in res.problems[0]
    assert res.recall > check.MIN_PR  # the gold threshold alone would pass it


def test_check_fails_on_a_duplicated_or_corrupted_row():
    rows, exp, gold = _reference()
    assert not check.check_triples(rows + rows[:1], exp, gold).ok
    bad = list(rows[0])
    bad[2] = bad[2] + "X"
    assert not check.check_triples([tuple(bad)] + rows[1:], exp, gold).ok


def test_parse_metric():
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n4.2 s (1.9 s, 2.3 s)") == 4.2
    assert spans.parse_metric("53 ms") == pytest.approx(0.053)
    assert spans.parse_metric("1,024.0 KiB") == 1024.0 * 1024
    assert spans.parse_metric("0.0 B") == 0.0


def _tiny_run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["kg_build", "web_pages"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    out = _tiny_run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())

