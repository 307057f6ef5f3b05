"""Correctness checks applied to every timed repetition.

Two checks on the committed ``triples`` table:

* **exact**: as a multiset, it equals the extraction kernel
  (``decode_document``) applied on the driver to each document the pipeline
  should extract from. This catches rows the distributed plumbing drops,
  duplicates or corrupts — one dropped row fails it;
* **gold**: precision and recall against the generator's planted gold,
  matched on (url, subject, predicate, object ``@value``), must each be at
  least ``MIN_PR``. They are also reported as metrics, so a change to the
  kernel that loses triples shows as a regression.

``snapshot_hash`` hashes a table's sorted rows, for comparing two catalogs.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from dataclasses import dataclass, field

MIN_PR = 0.95


def triple_key(url, subject_type, subject, predicate, object_type, obj) -> tuple:
    return (url, subject_type, subject, predicate,
            tuple(sorted((object_type or {}).items())), tuple(sorted((obj or {}).items())))


def expected_triples(docs: list[tuple[str, str]]) -> Counter:
    """Kernel output for ``(url, text)`` pairs, computed on the driver."""
    from relation_extraction_spark.operators.extract_triples import decode_document
    from relation_extraction_spark.operators.scorer import SurrogateScorer

    scorer = SurrogateScorer()
    out: Counter = Counter()
    for url, text in docs:
        for t in decode_document(text, scorer):
            out[triple_key(url, t["subject_type"], t["subject"], t["predicate"],
                           t["object_type"], t["object"])] += 1
    return out


@dataclass
class Result:
    precision: float
    recall: float
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def check_triples(rows: list[tuple], expected: Counter, gold: set[tuple]) -> Result:
    """``rows``: committed triples as :func:`triple_key` tuples."""
    got = Counter(rows)
    found = {(r[0], r[2], r[3], dict(r[5]).get("@value")) for r in got}
    hit = len(found & gold)
    res = Result(precision=hit / len(found) if found else 0.0,
                 recall=hit / len(gold) if gold else 0.0)
    if got != expected:
        missing = sum((expected - got).values())
        extra = sum((got - expected).values())
        res.problems.append(f"triples differ from the kernel reference: "
                            f"{missing} missing, {extra} unexpected")
    if res.precision < MIN_PR or res.recall < MIN_PR:
        res.problems.append(f"gold precision {res.precision:.4f} / recall "
                            f"{res.recall:.4f} below {MIN_PR}")
    return res


def committed_triples(catalog) -> list[tuple]:
    return [triple_key(*r) for r in catalog.read("triples").select(
        "url", "subject_type", "subject", "predicate", "object_type", "object").collect()]


def snapshot_hash(df) -> str:
    """Hash of a DataFrame's rows, sorted, as canonical JSON."""
    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                             ensure_ascii=False, default=str)
                  for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()
