"""Machine-side probes: contention spin, process-tree RSS, kernel layers.

``spin_probe`` is the single-threaded pure-Python loop ``bench.py`` uses as
a contention sentinel: its wall time reads how much CPU this process gets.

``RssSampler`` samples the resident memory (PSS) of this process and all
its descendants (the Spark JVM and its Python workers) from ``/proc``.

``kernel_layers`` times the extraction kernel's layers on the driver over a
fixed sample of a workload's texts, by wrapping the functions
``decode_document`` calls and charging each call's self time to its layer.
"""

from __future__ import annotations

import os
import statistics
import threading
import time


def spin_probe(iters: int = 3_000_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i * i
    if not acc:
        raise RuntimeError("spin probe loop did not run")
    return time.perf_counter() - t0


def dir_mb(path: str) -> float:
    """Bytes under ``path``, in MB."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``, from ``/proc``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants. PSS splits
    pages shared between processes, so forked Python workers (which share
    the daemon's pages) and a short-lived vfork child of the JVM (which
    shares all of the JVM's) are not counted twice."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited between listing and reading
            continue
    return total


class RssSampler:
    """Peak resident memory (PSS) of this process tree while running. One
    sample reads every process's page-table summary (about 20 ms for a
    2 GB JVM), hence the interval."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))


def kernel_layers(texts: list[str], htmls: list[bytes], passes: int = 3) -> dict[str, float]:
    """µs per document for html→text and each extraction-kernel layer
    (median over ``passes``), plus the whole ``decode_document`` unwrapped."""
    from relation_extraction_spark.operators import extract_triples as et
    from relation_extraction_spark.operators import scorer as sc

    n = len(texts)
    scorer = sc.SurrogateScorer()

    def timed(fn, *args):
        t0 = time.perf_counter()
        for a in zip(*args):
            fn(*a)
        return (time.perf_counter() - t0) * 1e6 / n

    out = {"html2text": statistics.median(
        timed(et.extract_text_bytes, htmls) for _ in range(passes))}
    out["kernel"] = statistics.median(
        timed(lambda t: et.decode_document(t, scorer), texts) for _ in range(passes))

    acc: dict[str, float] = {}
    stack: list[list[float]] = []

    def wrap(fn, layer):
        def w(*a, **kw):
            stack.append([0.0])
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()[0]
                acc[layer] = acc.get(layer, 0.0) + dt - child
                if stack:
                    stack[-1][0] += dt
        return w

    patches = [(sc, "tokenize_with_offsets", "tokenizer"),
               (et, "decode_subjects", "decode"), (et, "decode_objects", "decode"),
               (et, "assemble_spos", "decode"), (et, "word_limit_maps", "decode"),
               (et, "combine_spos", "rewrite"), (et, "postprocess_1", "rewrite")]
    saved = [(m, name, getattr(m, name)) for m, name, _ in patches]
    score = sc.RuleScorer.score
    try:
        for m, name, layer in patches:
            setattr(m, name, wrap(getattr(m, name), layer))
        sc.RuleScorer.score = wrap(score, "scorer")
        per_pass = []
        for _ in range(passes):
            acc.clear()
            for t in texts:
                et.decode_document(t, scorer)
            per_pass.append({k: v * 1e6 / n for k, v in acc.items()})
    finally:
        sc.RuleScorer.score = score
        for m, name, orig in saved:
            setattr(m, name, orig)
    for layer in ("tokenizer", "scorer", "decode", "rewrite"):
        out[layer] = statistics.median(p.get(layer, 0.0) for p in per_pass)
    return out
