"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line LAST:

    {"metric": "...", "value": <warm total sec>, "unit": "sec",
     "n_queries": N, "sf": <sf>, "cold_total": <sec>, "cold_sf": ...}

The line is totals-only and asserted < 1500 chars: the external
driver captures a bounded stdout tail, and a line carrying per-query
maps outgrew it in round 5 ("parsed": null). Per-query timings go to
stderr and to the ``bench_details.json`` sidecar next to this file.

Usage:
    python bench.py                 # headline set (registry tag
                                    # ``headline``) in one warm session,
                                    # + cold-per-query pass at sf0.01
    python bench.py --no-cold       # skip the cold pass
    python bench.py --cold-only     # only the cold pass
    python bench.py --no-rotation   # skip the rotation chunk
    python bench.py --all           # every registered query
    python bench.py --only a,b      # exact list (or @file), no rotation
    python bench.py --explain NAME  # formatted plan for one query
    python bench.py --recall        # measured LSH/IVF/PQ recall vs exact
    python bench.py --duck          # the baseline: DuckDB running the
                                    # same queries' oracle SQL on the
                                    # same parquet (the reference hands
                                    # all execution to DuckDB)
    python bench.py --pair          # both engines interleaved per query
                                    # in ONE session, so host drift hits
                                    # both sides of every ratio equally;
                                    # writes bench_details_pair_sf*.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.session import codegen_compiles, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _round_no() -> int | None:
    """Infer the CURRENT round: the driver writes BENCH_r{N}.json at
    the END of round N, so during round N the newest file is N-1."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    ns = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))
    ]
    return max(ns) + 1 if ns else None


def _median(vals: list[float]) -> float | None:
    """True median (advisor, round 7): the two middle elements are
    averaged for even n instead of reporting the upper-middle one."""
    if not vals:
        return None
    s = sorted(vals)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 4)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(os.path.normpath(d))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def headline(specs) -> list[str]:
    """The headline set, in registry order: one representative per
    operator family (registry tag ``headline``), weighted toward the
    scan/join/agg/window shapes that dominate real 100 TB workloads."""
    return [n for n, s in specs.items() if "headline" in s.tags]


def _warm_dir(sf_dir: str) -> str | None:
    """The sf0.001 directory beside ``sf_dir``, or None when it is
    missing or is ``sf_dir`` itself (nothing smaller to warm on)."""
    warm = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    if os.path.isdir(warm) and warm != os.path.normpath(sf_dir):
        return warm
    return None


def _warm(spark, specs, names, warm_dir) -> None:
    """Run every query once at ``warm_dir`` before it is timed. Spark
    compiles each unique whole-stage-codegen shape on first use
    (janino) and caches the generated class, so a cold first run
    conflates one-time compile latency with throughput (measured:
    dedup_minhash_lsh 7.5s cold vs 3.3s steady-state at sf0.1). DuckDB
    (the baseline) has no such first-query cost; warming at sf0.001
    (~1/100 the data) keeps the comparison apples-to-apples while the
    timed runs still do all the real work. Best-effort: a failure is
    printed and the timed run records it."""
    if warm_dir is None:
        return
    for name in names:
        try:
            specs[name].builder(spark, warm_dir).count()
        except Exception as exc:
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)


def _time_query(spark, spec, sf_dir) -> dict:
    """Time ``spec.builder(spark, sf_dir).count()`` once.

    Returns ``{"sec", "rows", "compiles", "dispatch"}`` plus
    ``"layout_write"`` when the query (re)wrote a physical layout, or
    ``{"error": msg}`` when it raised: one failing query must not void
    the whole bench (a schema drift in regenerated test data once cost
    an entire round's numbers). ``compiles`` counts the classes Janino
    compiled during the run (compiled-class cache misses the warm-up
    left); ``dispatch`` is what the adaptive dispatchers decided
    (``ranking.DISPATCH_LOG``). A layout-demonstrating query reports its
    one-time write separately (amortised at load in a real warehouse,
    the shared-build pricing model): ``sec`` is the probe alone."""
    from aws_etl_global_footprint_network_spark.functions import ranking
    from aws_etl_global_footprint_network_spark.operators import join_accel

    join_accel.LAYOUT_WRITE_SEC.pop(spec.name, None)
    ranking.DISPATCH_LOG.clear()
    c0 = codegen_compiles(spark)
    t0 = time.perf_counter()
    try:
        n = spec.builder(spark, sf_dir).count()
    except Exception as exc:
        return {"error": f"{type(exc).__name__}: {exc}"[:300]}
    sec = time.perf_counter() - t0
    rec = {
        "rows": n,
        "compiles": codegen_compiles(spark) - c0,
        "dispatch": list(ranking.DISPATCH_LOG),
    }
    w = join_accel.LAYOUT_WRITE_SEC.get(spec.name)
    if w is not None:
        rec["layout_write"] = w
        sec = max(sec - w, 0.0)
    rec["sec"] = round(sec, 3)
    return rec


def _time_queries(spark, specs, names, sf_dir, label="") -> dict[str, dict]:
    """``_time_query`` over ``names`` in order, one stderr line each."""
    runs: dict[str, dict] = {}
    for name in names:
        runs[name] = r = _time_query(spark, specs[name], sf_dir)
        if "error" in r:
            print(f"# {label}{name}: ERROR {r['error']}", file=sys.stderr)
            continue
        decided = " ".join(
            f"{d['kind']}:{d['branch']}({d['n_rows']:,}/{d['cap']:,})"
            for d in r["dispatch"]
        )
        print(
            f"# {label}{name}: {r['sec']:.3f}s ({r['rows']} rows)"
            + (f" [+{r['layout_write']:.3f}s layout write]"
               if "layout_write" in r else "")
            + (f" {decided}" if decided else ""),
            file=sys.stderr,
            flush=True,
        )
    return runs


def _field(runs: dict[str, dict], key: str) -> dict:
    """One field of every run that has it, by query name."""
    return {n: r[key] for n, r in runs.items() if key in r}


def recall_mode(spark) -> None:
    """Measured recall and candidate ratio for both LSH families vs
    their exact ground truths, at $SPARK_GRAFT_SF_DIR. The numbers in
    README's LSH sections are reproduced by this mode — nothing about
    band geometry is asserted from comments alone."""
    from pyspark.sql import functions as F

    from aws_etl_global_footprint_network_spark.functions import vectors
    from aws_etl_global_footprint_network_spark.operators import dedup, similarity
    from aws_etl_global_footprint_network_spark.sources.readers import read_testdata

    specs = load_all()
    out: dict[str, dict] = {}

    # ---- MinHash: ground truth = exact shingle Jaccard >= threshold
    # over the FULL corpus (shingle equi-join — linear in shared
    # shingles, not quadratic in docs).
    tok = dedup._shingle_sets(spark, SF_DIR).persist()
    n_docs = tok.select("doc_id").distinct().count()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = tok.alias("x"), tok.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.token") == F.col("y.token"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    n_true = (
        inter.join(F.broadcast(sizes.alias("sa")), F.col("sa.doc_id") == F.col("a"))
        .join(F.broadcast(sizes.alias("sb")), F.col("sb.doc_id") == F.col("b"))
        .filter(jac >= dedup.JACCARD_THRESHOLD)
        .count()
    )
    sig = dedup.minhash_signatures(tok)
    buckets = dedup.lsh_band_buckets(sig)
    n_cand = similarity.band_candidate_pairs(buckets, id_col="doc_id").count()
    n_found = specs["dedup_minhash_lsh"].builder(spark, SF_DIR).count()
    tok.unpersist()
    possible = n_docs * (n_docs - 1) // 2
    out["minhash"] = {
        "threshold": dedup.JACCARD_THRESHOLD,
        "n_docs": n_docs,
        "n_true_pairs": n_true,
        "n_candidates": n_cand,
        "n_found": n_found,
        "recall": round(n_found / n_true, 4) if n_true else None,
        "candidate_ratio": round(n_cand / possible, 6) if possible else None,
    }

    # ---- Sign-LSH: ground truth = brute-force cosine >= threshold
    # over the twin-AUGMENTED corpus (measurement-only quadratic pass).
    # The organic corpus is isotropic noise with no pairs in the
    # near-dup regime, so recall is evaluated on the planted twins —
    # the organic max cosine is reported alongside as evidence.
    emb = similarity.augmented_embeddings(spark, SF_DIR).persist()
    n_vecs = emb.count()
    a = emb.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    cos = vectors.dot("ea", "eb") / (F.col("na") * F.col("nb"))
    all_pairs = (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("score"))
        .persist()
    )
    organic_max = (
        all_pairs.filter(F.col("vb") < similarity.TWIN_OFFSET)
        .agg(F.max("score"))
        .collect()[0][0]
    )
    true_pairs = all_pairs.filter(
        F.col("score") >= similarity.LSH_PAIR_THRESHOLD
    ).persist()
    n_true_v = true_pairs.count()
    n_true_planted = true_pairs.filter(
        F.col("vb") - F.col("va") == similarity.TWIN_OFFSET
    ).count()
    bands = similarity.sign_band_table(emb)
    n_cand_v = similarity.band_candidate_pairs(bands).count()
    found_pairs = specs["ann_lsh_pairs"].builder(spark, SF_DIR).persist()
    n_found_v = found_pairs.count()
    n_found_planted = found_pairs.filter(
        F.col("vec_b") - F.col("vec_a") == similarity.TWIN_OFFSET
    ).count()
    # Recall per similarity tier: sign-LSH collision probability rises
    # steeply with cosine ((1 - theta/pi)^bits per band), so a single
    # recall number at the verify threshold understates how well the
    # index catches the nearest duplicates.
    tiers = {}
    for t in (0.85, 0.88, 0.9, 0.92, 0.95):
        nt = true_pairs.filter(F.col("score") >= t).count()
        nf = found_pairs.filter(F.col("score") >= t).count()
        tiers[str(t)] = {
            "n_true": nt,
            "n_found": nf,
            "recall": round(nf / nt, 4) if nt else None,
        }
    all_pairs.unpersist()
    true_pairs.unpersist()
    found_pairs.unpersist()
    emb.unpersist()
    possible_v = n_vecs * (n_vecs - 1) // 2
    out["sign_lsh"] = {
        "threshold": similarity.LSH_PAIR_THRESHOLD,
        "n_vectors_augmented": n_vecs,
        "organic_max_cosine": round(organic_max, 4) if organic_max else None,
        "n_true_pairs": n_true_v,
        "n_true_planted": n_true_planted,
        "n_candidates": n_cand_v,
        "n_found": n_found_v,
        "recall": round(n_found_v / n_true_v, 4) if n_true_v else None,
        "planted_recall": (
            round(n_found_planted / n_true_planted, 4) if n_true_planted else None
        ),
        "recall_by_cosine_tier": tiers,
        "candidate_ratio": round(n_cand_v / possible_v, 6) if possible_v else None,
    }

    # ---- IVF probe search: recall@k vs the exact brute-force top-k
    # for the same query set — the standard ANN-benchmark metric. A
    # probe miss happens when a true neighbour's inverted list is not
    # among the query's nprobe nearest centroids.
    pair_cols = ["query_id", "neighbor_id"]
    exact = specs["ann_cosine_topk"].builder(spark, SF_DIR).select(pair_cols).persist()
    n_exact = exact.count()
    emb_raw = read_testdata(spark, SF_DIR, "embeddings")
    n_lists = emb_raw.select("label").distinct().count()
    sweep = {}
    for nprobe in (1, 2, 4, 8, n_lists):
        probed = similarity.ivf_probe_topk(spark, SF_DIR, nprobe).select(pair_cols)
        n_hit = exact.join(probed, pair_cols, "inner").count()
        sweep[str(nprobe)] = round(n_hit / n_exact, 4) if n_exact else None
    exact.unpersist()
    out["ivf_probe"] = {
        "k": similarity.TOPK,
        "n_lists": n_lists,
        "n_queries": similarity.N_QUERIES,
        "n_exact_neighbors": n_exact,
        "registered_nprobe": similarity.NPROBE,
        "recall_at_k_by_nprobe": sweep,
    }

    # ---- PQ: recall@k of pure-ADC and ADC+exact-rerank search vs the
    # exact L2 top-k for the same query set (ADC approximates L2, so
    # the L2 baseline is the apples-to-apples ground truth).
    from pyspark.sql import Window as _W

    from aws_etl_global_footprint_network_spark.operators import similarity_pq as pq

    emb_pq = emb_raw.select("vec_id", vectors.as_double_array("embedding").alias("e"))
    qs = emb_pq.filter(F.col("vec_id") < pq.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    l2d = F.aggregate(
        F.zip_with("qe", "e", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a2, x2: a2 + x2,
    )
    scored_pq = emb_pq.join(
        F.broadcast(qs), F.col("query_id") != F.col("vec_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), l2d.alias("d"))
    w_pq = _W.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact_l2 = {
        (r.query_id, r.neighbor_id)
        for r in scored_pq.withColumn("rn", F.row_number().over(w_pq))
        .filter(f"rn <= {pq.TOPK}")
        .collect()
    }
    adc_set = {
        (r.query_id, r.neighbor_id)
        for r in specs["pq_adc_topk"].builder(spark, SF_DIR).collect()
    }
    rr_set = {
        (r.query_id, r.neighbor_id)
        for r in specs["pq_adc_rerank_topk"].builder(spark, SF_DIR).collect()
    }
    out["pq"] = {
        "geometry": f"{pq.M}x{pq.SUBDIM}-dim, {pq.K} codes"
        f" ({pq.M * pq.CODE_BITS} bits/vector)",
        "k": pq.TOPK,
        "rerank_shortlist": pq.RERANK_R,
        "recall_adc": round(len(adc_set & exact_l2) / len(exact_l2), 4),
        "recall_adc_rerank": round(len(rr_set & exact_l2) / len(exact_l2), 4),
    }

    print(json.dumps({"metric": "lsh_recall", "sf": _sf_from_dir(SF_DIR), **out}))


def duck_mode(specs, names) -> None:
    """Time DuckDB running the oracle SQL of every oracle-paired
    headline query on the same parquet — the reference's engine on the
    reference's semantics, measured by the same wall clock. No Spark
    session is started."""
    from tests.oracle_harness import duck_connection

    con = duck_connection(SF_DIR)
    timings: dict[str, float] = {}
    for name in names:
        spec = specs[name]
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        rows = con.sql(spec.oracle).fetchall()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# duckdb {name}: {timings[name]:.3f}s ({len(rows)} rows)",
              file=sys.stderr)
    print(json.dumps({
        "metric": "duckdb_oracle_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "median_query": _median(list(timings.values())),
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
    }))


def pair_mode(specs, names) -> None:
    """Same-session interleaved Spark/DuckDB pair: two drift
    attributions in round 11 showed the VM shears the engines +-15% in
    OPPOSITE directions between sessions, so a ratio from separate runs
    carries that shear. Here every oracle-paired query runs on BOTH
    engines back-to-back in one process, the engine order alternating
    per query (Spark first on even index) so neither enjoys the warmer
    caches; drift lands on both sides of every ratio. Spark gets the
    default mode's warm-up, shared-build prime and per-query timer;
    DuckDB reuses one connection. Writes
    ``bench_details_pair_sf{sf}.json`` (schema v3)."""
    from tests.oracle_harness import duck_connection

    paired = [n for n in names if specs[n].oracle is not None]
    spark = get_spark(app_name="bench-pair")
    con = duck_connection(SF_DIR)

    _warm(spark, specs, paired, _warm_dir(SF_DIR))
    prime_sec = prime_shared_builds(spark, SF_DIR, specs, paired)

    spark_q: dict[str, float] = {}
    duck_q: dict[str, float] = {}
    layout_write: dict[str, float] = {}
    errors: dict[str, str] = {}
    for i, name in enumerate(paired):
        def run_duck() -> float:
            t0 = time.perf_counter()
            con.sql(specs[name].oracle).fetchall()
            return round(time.perf_counter() - t0, 3)

        try:
            d = None if i % 2 == 0 else run_duck()
            run = _time_query(spark, specs[name], SF_DIR)
            if d is None and "error" not in run:
                d = run_duck()
        except Exception as exc:
            run = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        if "error" in run:
            errors[name] = run["error"]
            print(f"# pair {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        spark_q[name], duck_q[name] = run["sec"], d
        if "layout_write" in run:
            layout_write[name] = run["layout_write"]
        print(
            f"# pair {name}: spark {spark_q[name]:.3f}s"
            f" duck {duck_q[name]:.3f}s"
            f" ({'S' if i % 2 == 0 else 'D'} first)",
            file=sys.stderr,
        )

    common = sorted(set(spark_q) & set(duck_q))
    s_tot = round(sum(spark_q[k] for k in common), 3)
    d_tot = round(sum(duck_q[k] for k in common), 3)
    p_tot = round(sum(prime_sec.values()), 3)
    # Relational-control ratio: the stable non-streaming, non-forced
    # subset used to judge protocol stability run-over-run (streaming
    # rows measure micro-batch machinery, forced rows pin over-cap
    # recipes at any size — both are by-construction outliers).
    control = [
        k for k in common
        if "streaming" not in specs[k].tags
        and "forced-dispatch" not in specs[k].tags
    ]
    cs = sum(spark_q[k] for k in control)
    cd = sum(duck_q[k] for k in control)
    line = {
        "metric": "interleaved_pair_ratio",
        "value": round(s_tot / d_tot, 4) if d_tot else None,
        "unit": "spark/duck",
        "ratio_with_prime": round((s_tot + p_tot) / d_tot, 4)
        if d_tot else None,
        "control_ratio": round(cs / cd, 4) if cd else None,
        "n_common": len(common),
        "n_control": len(control),
        "spark_total": s_tot,
        "duckdb_total": d_tot,
        "prime_total": p_tot,
        "sf": _sf_from_dir(SF_DIR),
        "protocol": "interleaved-same-session-v1",
    }
    details = {
        "spark_queries": spark_q,
        "duckdb_queries": duck_q,
        "shared_build_prime_sec": prime_sec,
        "query_flags": query_flags(specs, common),
        "schema_version": 3,
    }
    _price_extras(line, details, layout_write, errors)
    sf = _sf_from_dir(SF_DIR)
    _write_out(line, details, f"bench_details_pair_sf{sf:g}.json")


def _price_extras(line, details, layout_write, errors) -> None:
    """Add the one-time layout writes (priced outside their queries'
    numbers) and the failed queries to the compact line and sidecar."""
    if layout_write:
        line["layout_write_total"] = round(sum(layout_write.values()), 3)
        details["layout_write_sec"] = layout_write
        for k in layout_write:
            details["query_flags"].setdefault(k, {})["layout_write"] = True
    if errors:
        line["n_errors"] = len(errors)
        details["errors"] = errors


def _write_out(line, details, sidecar) -> None:
    """Write the sidecar (``details`` plus the compact line's totals)
    next to this file, then print the compact line LAST on stdout."""
    details.update(line)
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), sidecar)
    with open(sidecar, "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True)
    print(f"# per-query detail -> {sidecar}", file=sys.stderr)
    out = json.dumps(line)
    assert len(out) < 1500, f"line too long for driver tail: {len(out)}"
    print(out)


def prime_shared_builds(spark, sf_dir, specs, names) -> dict[str, float]:
    """Materialize the cross-query memoized builds (basket arrays,
    co-purchase edge variants, transition pairs) ONCE before the
    timed pass, each timed separately (round-9 verdict item 3 /
    advisor): in a warm suite the shared build otherwise lands on
    whichever family member runs first, making per-query numbers
    iteration-order-dependent and not reproducible standalone. With
    the builds primed, every `shared-build`-tagged query's number is
    its own warm cost, and the build prices are reported explicitly
    in the sidecar instead of silently folded into one victim.
    A selection ``names`` with no `shared-build` query primes nothing
    and returns an empty dict."""
    if not any("shared-build" in specs[n].tags for n in names):
        return {}
    from aws_etl_global_footprint_network_spark.functions import baskets
    from aws_etl_global_footprint_network_spark.operators import (
        analytics_r8c,
        analytics_r8d,
        mining,
    )

    supports = sorted({1, mining.TRI_MIN_SUPPORT, analytics_r8c.LPA_MIN_SUPPORT})
    mins = sorted({analytics_r8d.HITS_MIN_COUNT, mining.SEQ_MIN_COUNT})
    builds = {"basket_arrays": lambda: baskets.basket_arrays(spark, sf_dir)}
    for ms in supports:
        builds[f"copurchase_edges_ms{ms}"] = (
            lambda ms=ms: mining._copurchase_edges(spark, sf_dir, min_support=ms)
        )
    for mc in mins:
        builds[f"transition_pairs_min{mc}"] = (
            lambda mc=mc: baskets.transition_pair_counts(spark, sf_dir, mc)
        )
    timing: dict[str, float] = {}
    for bname, fn in builds.items():
        t0 = time.perf_counter()
        fn().count()
        timing[bname] = round(time.perf_counter() - t0, 3)
        print(f"# prime {bname}: {timing[bname]:.3f}s", file=sys.stderr)
    return timing


def query_flags(specs, names) -> dict[str, dict]:
    """Per-query sidecar annotations derived from registry tags, so
    the ratio column cannot be misread (round-9 verdict items 3+4):
    streaming rows measure Structured Streaming micro-batch machinery
    against a batch DuckDB scan; shared-build rows assume the primed
    memoized builds (their cold cost is in shared_build_prime_sec)."""
    flags: dict[str, dict] = {}
    for name in names:
        f = {}
        if "streaming" in specs[name].tags:
            f["machinery"] = "micro-batch vs batch oracle"
        if "shared-build" in specs[name].tags:
            f["shared_build"] = True
        if "forced-dispatch" in specs[name].tags:
            # evidence queries: they PIN the over-cap distributed
            # recipes at any input size, so their small-SF ratio vs a
            # single-threaded DuckDB window is by construction
            f["forced_dispatch"] = True
        floors = [t for t in specs[name].tags if t.endswith("-floor")]
        if floors:
            # structural-floor rows: the docstring pins a measured A/B
            # showing the plan is within noise of the best Spark
            # alternative and the residual ratio is engine machinery
            # (e.g. row-wise JSON parse), not a plan defect
            f["structural_floor"] = floors[0]
        if f:
            flags[name] = f
    return flags


def cold_pass(specs, names, sf_dir) -> dict[str, float]:
    """One FRESH SparkSession per query at ``sf_dir``.

    The warm headline numbers share one session across 40+ queries, so
    a slow drift there is ambiguous: plan regression, or session-state
    accumulation (JVM caches, lingering persists, catalog growth)?
    This pass isolates each query in its own session — a per-query
    number that only moves when the QUERY's plan or input moves.
    Run at sf0.01: big enough to execute every real plan shape, small
    enough that ~50 session restarts stay inside a bench budget."""
    from aws_etl_global_footprint_network_spark.functions.cache import release_all

    timings: dict[str, float] = {}
    for name in names:
        spark = get_spark(app_name=f"bench-cold-{name}")
        t0 = time.perf_counter()
        try:
            specs[name].builder(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 3)
            print(f"# cold {name}: {timings[name]:.3f}s", file=sys.stderr)
        except Exception as exc:
            print(f"# cold {name}: ERROR {exc}"[:200], file=sys.stderr)
        finally:
            release_all()
            spark.stop()
    return timings


def main() -> None:
    specs = load_all()
    names = list(specs) if "--all" in sys.argv else headline(specs)
    if "--only" in sys.argv:
        # exact query list (comma-separated, or @file with one JSON
        # array / one name per line) — used for apples-to-apples
        # round-over-round reruns of a PRIOR round's exact set
        arg = sys.argv[sys.argv.index("--only") + 1]
        if arg.startswith("@"):
            with open(arg[1:]) as fh:
                txt = fh.read().strip()
            names = (
                json.loads(txt)
                if txt.startswith("[")
                else [ln.strip() for ln in txt.splitlines() if ln.strip()]
            )
        else:
            names = arg.split(",")
        unknown = [n for n in names if n not in specs]
        assert not unknown, f"--only unknown queries: {unknown}"

    if "--duck" in sys.argv:
        duck_mode(specs, names)
        return

    if "--pair" in sys.argv:
        pair_mode(specs, names)
        return

    cold_dir = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.01")

    if "--cold-only" in sys.argv:
        timings = cold_pass(specs, names, cold_dir)
        print("# " + json.dumps(timings), file=sys.stderr)
        print(json.dumps({
            "metric": "cold_per_query_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "n_queries": len(timings),
            "sf": _sf_from_dir(cold_dir),
        }))
        return

    spark = get_spark(app_name="bench")

    if "--recall" in sys.argv:
        recall_mode(spark)
        return

    if "--explain" in sys.argv:
        name = sys.argv[sys.argv.index("--explain") + 1]
        specs[name].builder(spark, SF_DIR).explain("formatted")
        return

    warm_dir = _warm_dir(SF_DIR)
    _warm(spark, specs, names, warm_dir)
    # Prime the cross-query memoized builds at the measured SF so
    # per-query warm numbers are reproducible standalone (their cold
    # cost is reported separately in the sidecar).
    prime_sec = prime_shared_builds(spark, SF_DIR, specs, names)
    runs = _time_queries(spark, specs, names, SF_DIR)

    # Bench coverage rotation: registered queries outside the headline
    # set get a warm datapoint within ~4 rounds — one strided chunk of
    # the unbenched tail per round, keyed by the round number. Rotation
    # failures are tracked SEPARATELY: the compact line's n_errors
    # means "headline queries failing" and nothing else (a
    # rotation-only failure once read as a headline regression).
    rot_runs: dict[str, dict] = {}
    rot_label = None
    if not {"--all", "--only", "--no-rotation"} & set(sys.argv):
        unbenched = sorted(n for n in specs if "headline" not in specs[n].tags)
        if unbenched:
            n_chunks = max(1, -(-len(unbenched) // 31))
            idx = (_round_no() or 0) % n_chunks
            chunk = unbenched[idx::n_chunks]
            rot_label = f"{idx + 1}/{n_chunks} of {len(unbenched)}"
            _warm(spark, specs, chunk, warm_dir)
            rot_runs = _time_queries(spark, specs, chunk, SF_DIR, "rot ")

    timings = _field(runs, "sec")
    rotation = _field(rot_runs, "sec")
    # headline and rotation queries alike price a one-time layout
    # write outside their query numbers
    layout_write = _field({**runs, **rot_runs}, "layout_write")
    total = round(sum(timings.values()), 3)
    # Compact totals-only line for the driver (its tail capture is
    # 2000 chars — the round-5 line with 52 warm + 52 cold per-query
    # entries outgrew it and the round shipped no parsed bench number).
    # Per-query maps go to stderr + a sidecar file instead.
    line = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "median_query": _median(list(timings.values())),
        # shared memoized builds are primed before the timed pass and
        # priced here, NOT inside any query's number (pre-r10 runs
        # folded them into whichever family member ran first)
        "prime_total": round(sum(prime_sec.values()), 3),
        "sf": _sf_from_dir(SF_DIR),
    }
    details = {
        "queries": timings,
        "shared_build_prime_sec": prime_sec,
        # classes Janino compiled during each timed query (headline and
        # rotation): compiled-class cache misses the warm-up left
        "codegen_compiles": _field({**runs, **rot_runs}, "compiles"),
        "query_flags": query_flags(specs, [*timings, *rotation]),
    }
    if rotation or rot_label:
        line["rot_n"] = len(rotation)
        line["rot_total"] = round(sum(rotation.values()), 3)
        line["rot_chunk"] = rot_label
        details["rotation_queries"] = rotation
    if rot_errors := _field(rot_runs, "error"):
        line["rot_errors"] = len(rot_errors)
        details["rotation_errors"] = rot_errors
    _price_extras(line, details, layout_write, _field(runs, "error"))

    # Cold-per-query pass (fresh session per query at sf0.01): totals
    # in the compact line, per-query map in the sidecar. Warm drift
    # that the cold numbers don't reproduce is session noise, not a
    # plan regression. Guarded: a cold-pass crash must never void the
    # warm numbers (the round-3 lesson — one failure voided a whole
    # round's bench).
    if "--no-cold" not in sys.argv and os.path.isdir(cold_dir):
        try:
            spark.stop()
            cold = cold_pass(specs, names, cold_dir)
            line["cold_sf"] = _sf_from_dir(cold_dir)
            line["cold_total"] = round(sum(cold.values()), 3)
            details["cold_queries"] = cold
        except Exception as exc:  # pragma: no cover - safety net
            line["cold_error"] = f"{type(exc).__name__}: {exc}"[:300]

    # Sidecar naming: the default sf0.1 run owns bench_details.json
    # (regression-gate baseline) plus a round-stamped copy to diff
    # r(N-1) -> rN without the truncated BENCH tail; other scales get
    # their own file so cross-scale runs never compare.
    here = os.path.dirname(os.path.abspath(__file__))
    sf_label = _sf_from_dir(SF_DIR)
    sidecar = f"bench_details_sf{sf_label:g}.json"
    if sf_label == 0.1:
        sidecar = "bench_details.json"
    if "--only" in sys.argv:
        # an exact-list rerun must never clobber the full-set
        # regression baseline (nor the round-stamped copy below)
        sidecar = "bench_details_only.json"
    # Round-over-round regression visibility: compare this run's warm
    # timings against the sidecar of the previous run and surface
    # >1.3x warm regressions in one stderr line; sub-0.2s queries are
    # skipped (pure jitter at toy scale).
    try:
        with open(os.path.join(here, sidecar)) as fh:
            prior = json.load(fh).get("queries", {})
        regressed = {
            q: f"{prior[q]:.2f}s->{t:.2f}s"
            for q, t in timings.items()
            if q in prior and prior[q] >= 0.2 and t > 1.3 * prior[q]
        }
        print(
            f"# warm regressions >1.3x vs prior run: {len(regressed)}"
            + (f" {json.dumps(regressed)}" if regressed else ""),
            file=sys.stderr,
        )
    except (OSError, ValueError):
        print("# warm regressions >1.3x vs prior run: n/a (no prior sidecar)",
              file=sys.stderr)
    print("# " + json.dumps(timings), file=sys.stderr)
    rn = _round_no()
    if rn is not None and sf_label == 0.1 and "--only" not in sys.argv:
        stamped = os.path.join(here, f"bench_details_r{rn:02d}.json")
        with open(stamped, "w") as fh:
            json.dump({**details, **line}, fh, indent=1, sort_keys=True)
        print(f"# round-stamped detail -> {stamped}", file=sys.stderr)
    _write_out(line, details, sidecar)


if __name__ == "__main__":
    main()
