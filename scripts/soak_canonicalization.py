"""Canonicalization soak at 10x graph order (round-4 verdict task 4).

The 5M-doc pipeline soak proved canonicalization flat ONLY because the
corpus entity vocabulary stays ~40k distinct names; the 100-TB claim needs
blocking + CC evidence at a much larger GRAPH order. This soak scales the
entity vocabulary itself:

* K deterministic base names (5 CJK chars drawn from md5 of the index —
  high-entropy, structurally independent, the diversity profile real entity
  blocking assumes; decorations use chars outside the base range so
  containment never crosses bases);
* 4 surface forms per base (canon, 著名X, X先生, 著名X先生 — the reference's
  utils/kg.py:308-309 decoration repair patterns), giving 4K distinct
  entities and 6K true alias pairs;
* the REAL linking stages the pipeline ships (lsh_candidate_pairs ->
  verified_alias_pairs -> the one-task resolver connected_components), each
  localCheckpointed so stage seconds are honest, with pair-level P/R
  computed DISTRIBUTED from the cluster composition (never collecting the
  mapping);
* the resolver next to the distributed large/small-star CC on the same
  verified pairs: seconds for both, star rounds, the number of entities
  whose components differ (must be 0), and the resolver task's peak RSS
  from a second run of its kernel in a probe task that resets the worker's
  high-water mark first — the resolver holds every verified pair in one
  task, so this is its memory bound;
* a separate star-CC depth probe on planted 64-node chains, where min-label
  propagation would need 63 rounds and large/small-star must stay O(log n).

``--cc-only`` skips blocking and verification: each level feeds the CC
comparison the verified graph the containment gate admits at P = R = 1
(5 pairs per family), built directly, so the resolver's bound can be
measured at orders where blocking alone takes minutes.

Usage: python scripts/soak_canonicalization.py [--cc-only] [K ...]
(default: 10000 100000). Prints one JSON line per scale level; paste
results into BENCH/PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 16))


# 4096-char CJK alphabet literal: Spark's char()/chr() is ASCII mod-256, so
# codepoints must come from a substring lookup, not chr()
_ALPHABET = "".join(chr(0x6000 + v) for v in range(4096))


def base_name(col):
    """Deterministic 5-char CJK name from a bigint: 3 md5 hex digits per
    char, mapped into 0x6000..0x6fff (inside the is_chinese range, disjoint
    from the 著/名/先/生 decoration chars, 4096^5 name space - no collisions).
    Matches tests/test_linking._hash_name exactly."""
    h = F.md5(col.cast("string"))
    return F.concat(*[
        F.substring(
            F.lit(_ALPHABET),
            F.conv(F.substring(h, 1 + 3 * p, 3), 16, 10).cast("int") + 1,
            1,
        )
        for p in range(5)
    ])


def alias_universe(spark, k: int, partitions: int):
    """4K surface forms over K bases: (entity, base)."""
    b = spark.range(0, k, 1, partitions).select(base_name(F.col("id")).alias("base"))
    forms = F.array(
        F.col("base"),
        F.concat(F.lit("著名"), F.col("base")),
        F.concat(F.col("base"), F.lit("先生")),
        F.concat(F.lit("著名"), F.col("base"), F.lit("先生")),
    )
    return b.select(F.explode(forms).alias("entity"), "base")


def verified_universe(spark, k: int, partitions: int):
    """The 5 alias pairs per family the containment gate verifies: every
    form contains the base, and 著名X先生 contains 著名X and X先生."""
    x = base_name(F.col("id"))
    pre, suf = F.concat(F.lit("著名"), x), F.concat(x, F.lit("先生"))
    both = F.concat(F.lit("著名"), x, F.lit("先生"))
    pairs = F.array(*[F.struct(a.alias("a"), b.alias("b")) for a, b in
                      ((x, pre), (x, suf), (x, both), (pre, both), (suf, both))])
    return (spark.range(0, k, 1, partitions)
            .select(F.explode(pairs).alias("p")).select("p.a", "p.b"))


def cc_level(spark, k: int) -> dict:
    """Resolver vs star on the directly built verified graph of K families."""
    pairs = verified_universe(spark, k, max(CPUS * 2, 8)).localCheckpoint(eager=True)
    out = {"k_bases": k, "n_entities": 4 * k, "n_verified": pairs.count()}
    out.update(cc_compare(pairs)[1])
    return out


def cc_compare(pairs):
    """(resolver components, timings): the one-task resolver and the star
    CC over the same pairs, the resolver task's RSS, and how many entities
    the two assign to different components."""
    from relation_extraction_spark.operators.linking import (
        connected_components,
        connected_components_star,
    )

    out: dict = {}
    t0 = time.time()
    comp = connected_components(pairs).localCheckpoint(eager=True)
    out["s_cc"] = round(time.time() - t0, 2)
    out.update(resolver_rss(pairs))
    t0 = time.time()
    st: dict = {}
    star = connected_components_star(pairs, stats=st).localCheckpoint(eager=True)
    out["s_cc_star"] = round(time.time() - t0, 2)
    out["cc_rounds"] = st.get("rounds", 0)
    out["cc_mismatch"] = (
        comp.join(star.withColumnRenamed("component", "star"), "entity", "full")
        .where(~F.col("component").eqNullSafe(F.col("star"))).count())
    return comp, out


def run_level(spark, k: int, stop_df: int | None = None,
              max_block: int = 1000) -> dict:
    from relation_extraction_spark.operators.linking import (
        lsh_candidate_pairs,
        verified_alias_pairs,
    )

    parts = max(CPUS * 2, 8)
    uni = alias_universe(spark, k, parts).localCheckpoint(eager=True)
    entities = uni.select("entity")
    out: dict = {"k_bases": k, "n_entities": 4 * k, "true_pairs": 6 * k,
                 "signature_stop_max_df": stop_df, "max_block": max_block}

    t0 = time.time()
    cands = lsh_candidate_pairs(
        entities, signature_stop_max_df=stop_df,
        max_block=max_block).localCheckpoint(eager=True)
    out["n_candidates"] = cands.count()
    out["s_candidates"] = round(time.time() - t0, 2)

    t0 = time.time()
    aliases = verified_alias_pairs(cands, entities).localCheckpoint(eager=True)
    out["n_verified"] = aliases.count()
    out["s_verify"] = round(time.time() - t0, 2)

    comp, cc = cc_compare(aliases)
    out.update(cc)

    # cluster-composition P/R without collecting: true base recovered by
    # stripping the decorations; singleton entities (unblocked/unverified)
    # map to themselves like canonical_mapping does
    t0 = time.time()
    labeled = (
        uni.join(comp, "entity", "left")
        .select("base", F.coalesce("component", F.col("entity")).alias("component"))
    )
    sizes = labeled.groupBy("component", "base").agg(F.count(F.lit(1)).alias("n_cb"))
    agg = sizes.groupBy().agg(
        F.sum(F.col("n_cb") * (F.col("n_cb") - 1) / 2).alias("intra"),
    ).crossJoin(
        sizes.groupBy("component").agg(F.sum("n_cb").alias("n_c"))
        .groupBy().agg(F.sum(F.col("n_c") * (F.col("n_c") - 1) / 2).alias("pred"))
    ).collect()[0]
    intra, pred = float(agg["intra"]), float(agg["pred"])
    out["pair_precision"] = round(intra / pred, 6) if pred else 1.0
    out["pair_recall"] = round(intra / (6 * k), 6)
    out["s_score"] = round(time.time() - t0, 2)
    out["s_total"] = out["s_candidates"] + out["s_verify"] + out["s_cc"]
    return out


def _rss_probe(batches):
    """Run the resolver kernel over this task's pairs; yield the Python
    worker's RSS before it and its high-water mark during it (MB). Both are
    null where /proc/self cannot be read or the high-water mark cannot be
    reset (non-Linux hosts, restricted /proc): the worker is reused across
    tasks, so an un-reset mark may belong to an earlier task."""
    import pyarrow as pa

    from relation_extraction_spark.operators.linking import _resolve_components

    def status(field: str) -> float:
        with open("/proc/self/status") as fh:
            line = next(x for x in fh if x.startswith(field + ":"))
        return int(line.split()[1]) / 1024

    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")  # reset VmHWM to the current RSS
        base = status("VmRSS")
    except OSError:
        base = None
    for _ in _resolve_components(batches):
        pass
    peak = None if base is None else status("VmHWM")
    yield pa.RecordBatch.from_pydict(
        {"base_mb": [base], "peak_mb": [peak]},
        schema=pa.schema([("base_mb", pa.float64()), ("peak_mb", pa.float64())]))


def resolver_rss(aliases) -> dict:
    """RSS of the one-task resolver (same single-partition input), or
    None where the probe cannot measure it."""
    row = (aliases.select("a", "b").repartition(1)
           .mapInArrow(_rss_probe, "base_mb double, peak_mb double").collect()[0])
    return {f"resolver_{k}_rss_mb": None if row[f"{k}_mb"] is None
            else round(row[f"{k}_mb"], 1) for k in ("base", "peak")}


def chain_probe(spark, n_chains: int = 2000, length: int = 64) -> dict:
    """Star-CC depth at scale: n_chains disjoint 64-node chains (diameter 63
    — min-label propagation would need 63 rounds)."""
    from relation_extraction_spark.operators.linking import connected_components_star

    e = (
        spark.range(0, n_chains * (length - 1), 1, CPUS * 2)
        .select(
            (F.col("id") / (length - 1)).cast("bigint").alias("c"),
            (F.col("id") % (length - 1)).alias("p"),
        )
        .select(
            F.format_string("c%06d_%03d", "c", "p").alias("a"),
            F.format_string("c%06d_%03d", "c", F.col("p") + 1).alias("b"),
        )
    )
    t0 = time.time()
    st: dict = {}
    comp = connected_components_star(e, stats=st)
    n_comp = comp.select("component").distinct().count()
    return {
        "chains": n_chains, "length": length, "nodes": n_chains * length,
        "components_found": n_comp, "cc_rounds": st.get("rounds", 0),
        "seconds": round(time.time() - t0, 2),
    }


def main() -> None:
    from relation_extraction_spark.session import get_spark

    # each arg: K, or K:stop_df:max_block ('-' = None) to pin one variant —
    # the transition-regime mitigation (lower max_block) needs the knob
    args = sys.argv[1:]
    cc_only = "--cc-only" in args
    specs = [a for a in args if a != "--cc-only"] or ["10000", "100000"]
    spark = get_spark(app_name="soak-canonicalization",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS * 2)
    try:
        for spec in specs:
            parts_ = spec.split(":")
            k = int(parts_[0])
            if cc_only:
                print(json.dumps({"cc_level": cc_level(spark, k)}), flush=True)
                continue
            if len(parts_) == 1:
                variants = [(None, 1000), (1000, 1000)]
            else:
                stop = None if parts_[1] == "-" else int(parts_[1])
                mb = int(parts_[2]) if len(parts_) > 2 else 1000
                variants = [(stop, mb)]
            for stop_df, mb in variants:
                print(json.dumps(
                    {"level": run_level(spark, k, stop_df, max_block=mb)},
                    ensure_ascii=False), flush=True)
        print(json.dumps({"chain_probe": chain_probe(spark)}, ensure_ascii=False),
              flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
