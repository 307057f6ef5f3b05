"""Deterministic benchmark inputs, cached on disk.

Every input is a pure function of ``(workload, seed, size)``: the seed picks
the window of :func:`relation_extraction_spark.synthetic.gen_row` rows and
seeds every random draw, and nothing depends on how many files or Spark
partitions the input is later split into. The pipeline under test sees only
the files written here; the gold triples stay on the driver.

Inputs are cached under ``<work>/inputs/<key>``. The key holds the workload,
seed, size, core count and a hash of the generator version, its parameters
and sample ``gen_row`` outputs, so a change to the library's generator never
serves a stale corpus.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from relation_extraction_spark.sources.warc import write_warc_bytes
from relation_extraction_spark.synthetic import gen_row

GEN_VERSION = 7
KEEP_CACHED = 4  # input sets kept on disk; older ones are pruned

WORKLOADS_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")


def params(workload: str, size: str) -> dict:
    """Generator parameters from ``workloads.json``, their single source.
    ``size`` is "full" (what the benchmark measures) or "tiny" (for the
    benchmark's own tests)."""
    with open(WORKLOADS_JSON) as fh:
        return json.load(fh)[workload]["generator"][size]

# Filler vocabularies: no digits, no book-title marks and none of the entity
# prefixes or relation words the scorer's rules anchor on, so filler adds
# length and tokens but never a triple.
_ZH_WORDS = (
    "天气 城市 公园 河流 山脉 早晨 晚上 学习 工作 生活 朋友 老师 学生 市场 商店 "
    "道路 汽车 火车 书架 绘画 运动 健康 饮食 水果 蔬菜 季节 春天 夏天 秋天 冬天 "
    "阳光 雨水 风景 花园 树木 草地 湖泊 海洋 星空 月亮 时间 文化 传统 节日 家庭 "
    "社区 环境 科技 网络 数据 信息 交流 经济 农业 工厂 建筑 桥梁 街道 广场 图书馆 "
    "博物馆 医院 学校 超市 邮局 车站 机场 码头 田野 森林 沙漠 草原 雪山 瀑布"
).split()
_ZH_GLUE = "的 了 和 在 很 都 也 就 与 及 把 被 让 向 从 对".split()
_EN_WORDS = (
    "the of and to in is that it was for on are as with his they at be this "
    "from have or by one had not but what all were when we there can an your "
    "which their said if do will each about how up out them then she many "
    "some so these would other into has more her two like him see time could "
    "no make than first been its who now people my made over did down only "
    "way find use may water long little very after words called just where "
    "most know"
).split()
_NAV = ("首页", "新闻", "娱乐", "体育", "财经", "关于我们", "联系方式")
_CSS = "body{font-family:sans-serif;margin:0 auto;max-width:960px}" * 8
_JS = "window.dataLayer=window.dataLayer||[];function track(e){dataLayer.push(e)}" * 6


def row_start(seed: int) -> int:
    """First ``gen_row`` index of the seed's window."""
    return (seed % 997) * 100_003


def generator_fingerprint(params: dict) -> str:
    """Hash of the generator version, its parameters and sample ``gen_row``
    outputs."""
    h = hashlib.sha1(f"v{GEN_VERSION}".encode())
    h.update(json.dumps(params, sort_keys=True).encode())
    for i in (0, 1, 7, 19, 42, 99_991, 1_234_567):
        r = gen_row(i)
        h.update(json.dumps(
            [r["url"], r["text"], r["lang"], r["warc_ts"].isoformat(), r["gold"]],
            ensure_ascii=False, sort_keys=True).encode())
    return h.hexdigest()[:12]


def gold_key(url: str, t: dict) -> tuple:
    """The gold match key: (url, subject, predicate, object @value)."""
    return (url, t["subject"], t["predicate"], t["object"]["@value"])


# --- kg_build ---------------------------------------------------------------

_DOC_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def kg_rows(seed: int, n: int) -> list[dict]:
    s = row_start(seed)
    return [gen_row(i) for i in range(s, s + n)]


def _write_docs(rows: list[dict], out_dir: str, files: int) -> None:
    os.makedirs(out_dir)
    per = math.ceil(len(rows) / files)
    for f in range(files):
        part = rows[f * per:(f + 1) * per]
        if not part:
            continue
        table = pa.Table.from_pydict(
            {k: [r[k] for r in part] for k in _DOC_SCHEMA.names}, _DOC_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def kg_increment_rows(seed: int, p: dict) -> tuple[list[dict], list[dict]]:
    """The increment for ``run_incremental``: ``(already processed, new)``,
    half each — the first base documents and the rows after the base window."""
    half = p["inc_docs"] // 2
    rows = kg_rows(seed, p["docs"] + half)
    return rows[:half], rows[p["docs"]:]


def build_kg(seed: int, p: dict, out: str) -> dict:
    rows = kg_rows(seed, p["docs"])
    _write_docs(rows, os.path.join(out, "docs"), p["files"])
    old, new = kg_increment_rows(seed, p)
    _write_docs(old + new, os.path.join(out, "increment"), 2)
    return {"docs": len(rows), "inc_docs": len(old) + len(new)}


# --- web_pages --------------------------------------------------------------

def _zh_sentence(rnd: random.Random) -> str:
    words = rnd.choices(_ZH_WORDS, k=rnd.randint(6, 14))
    for k in range(1, len(words), 3):
        words[k] += rnd.choice(_ZH_GLUE)
    return "".join(words) + "。"


def _en_sentence(rnd: random.Random) -> str:
    return " ".join(rnd.choices(_EN_WORDS, k=rnd.randint(8, 20))) + ". "


def sentence_pool(rnd: random.Random, lang: str, n: int = 4096) -> list[str]:
    make = _zh_sentence if lang == "zh" else _en_sentence
    return [make(rnd) for _ in range(n)]


def page_html(text: str, target_chars: int, footer: str, pool: list[str],
              rnd: random.Random) -> bytes:
    """An html page whose body OPENS with ``text`` (so its triples stay in
    the extraction window), padded to about ``target_chars`` visible
    characters with filler paragraphs of three pool sentences each (unique
    in practice: 4096³ combinations), plus head/script/style boilerplate, a
    nav list and a footer paragraph shared across pages."""
    paragraphs, n = [], len(text)
    while n < target_chars:
        par = "".join(rnd.choices(pool, k=3))
        paragraphs.append(f"<p>{par}</p>")
        n += len(par) + 1  # the line break html→text puts between paragraphs
    body = "".join(paragraphs)
    nav = "".join(f"<li><a href=\"/{k}\">{w}</a></li>" for k, w in enumerate(_NAV))
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>page</title><style>{_CSS}</style><script>{_JS}</script></head>"
        f"<body><article><p>{text}</p>{body}</article>"
        f"<nav><ul>{nav}</ul></nav><footer><p>{footer}</p></footer>"
        f"<script>{_JS}</script></body></html>"
    ).encode("utf-8")


def _norm(text: str) -> str:
    return " ".join(text.lower().split())


def web_rows(seed: int, n_distinct: int) -> list[dict]:
    """``n_distinct`` gen_rows from the seed's window whose texts are
    pairwise distinct, so every page's relation paragraph survives the
    global paragraph dedup."""
    out, seen, i = [], set(), row_start(seed)
    while len(out) < n_distinct:
        r = gen_row(i)
        i += 1
        if _norm(r["text"]) not in seen:
            seen.add(_norm(r["text"]))
            out.append(r)
    return out


def web_records(seed: int, p: dict) -> tuple[list[dict], dict[str, int], int]:
    """Every page record of the corpus, in order: the distinct pages, then
    the planted exact duplicates under mirror urls. Each page's random draws
    come from its own generator, so the records do not depend on how they
    are later split into shards. Returns ``(records, content, n_distinct)``
    where ``content`` maps url → index of the distinct page it carries."""
    n_dups = p["pages"] // p["dup_every"]
    rows = web_rows(seed, p["pages"] - n_dups)
    rnd = random.Random(f"web_pages/{seed}")
    pools = {lang: sentence_pool(rnd, lang) for lang in ("zh", "en")}
    footers = [_zh_sentence(rnd) + _zh_sentence(rnd) for _ in range(p["footers"])]
    # stratified log-uniform lengths: every seed gets the same set of page
    # lengths per language (so the same total bytes: Chinese filler takes
    # three bytes a character), dealt to that language's pages in a seeded
    # order
    lo, hi = math.log(p["min_chars"]), math.log(p["max_chars"])
    lengths = [0] * len(rows)
    for lang in ("zh", "en"):
        idx = [k for k, r in enumerate(rows) if r["lang"] == lang]
        strata = [int(math.exp(lo + (hi - lo) * (j + 0.5) / len(idx))) for j in range(len(idx))]
        rnd.shuffle(strata)
        for k, n in zip(idx, strata):
            lengths[k] = n
    recs, content = [], {}
    for k, r in enumerate(rows):
        pr = random.Random(f"web_pages/{seed}/{k}")
        html = page_html(r["text"], lengths[k], footers[pr.randrange(len(footers))],
                         pools[r["lang"]], pr)
        recs.append({"url": r["url"], "warc_ts": r["warc_ts"], "html": html})
        content[r["url"]] = k
    # duplicates copy pages spread evenly over the length order, so every
    # seed plants the same duplicate bytes
    by_length = sorted(range(len(rows)), key=lengths.__getitem__)
    for d in range(n_dups):
        k = by_length[(2 * d + 1) * len(rows) // (2 * n_dups)]
        url = recs[k]["url"].replace("https://", f"https://mirror{d % 7}.", 1)
        recs.append({"url": url, "warc_ts": recs[k]["warc_ts"] + dt.timedelta(days=1),
                     "html": recs[k]["html"]})
        content[url] = k
    return recs, content, len(rows)


def build_web(seed: int, p: dict, out: str, cores: int) -> dict:
    recs, content, n_distinct = web_records(seed, p)
    shards = cores * p["shards_per_core"]
    os.makedirs(os.path.join(out, "warc"))
    for s in range(shards):
        # round-robin, so every shard holds pages of every length and some
        # duplicates
        data = b"".join(gzip.compress(write_warc_bytes([r]), compresslevel=1, mtime=0)
                        for r in recs[s::shards])
        with open(os.path.join(out, "warc", f"shard-{s:05d}.warc.gz"), "wb") as fh:
            fh.write(data)
    with open(os.path.join(out, "content.json"), "w") as fh:
        json.dump(content, fh)
    return {"pages": len(recs), "distinct_pages": n_distinct, "shards": shards}


def web_content(inputs: str) -> dict[str, int]:
    with open(os.path.join(inputs, "content.json")) as fh:
        return json.load(fh)


# --- cache ------------------------------------------------------------------

def ensure_inputs(work: str, workload: str, seed: int, size: str,
                  cores: int) -> tuple[str, dict]:
    """Path of the cached input set for this key, generating it if absent.
    Returns ``(path, meta)``; ``meta`` records the generator parameters."""
    p = params(workload, size)
    key = f"{workload}-s{seed}-{size}-c{cores}-{generator_fingerprint(p)}"
    root = os.path.join(work, "inputs")
    path = os.path.join(root, key)
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "kg_build":
            meta = build_kg(seed, p, tmp)
        else:
            meta = build_web(seed, p, tmp, cores)
        meta.update(params=p, seed=seed, row_start=row_start(seed))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, path)
        _prune(root, keep=path)
    with open(meta_path) as fh:
        return path, json.load(fh)


def _prune(root: str, keep: str) -> None:
    entries = sorted((os.path.join(root, e) for e in os.listdir(root)),
                     key=os.path.getmtime)
    for e in entries[:-KEEP_CACHED]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)
