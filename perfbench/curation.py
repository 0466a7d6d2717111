"""The ``curation_suite`` workload: warm registry queries over a generated
``documents`` table.

A run

1. generates the table from the seed (cached): ``catalog.TABLE_DOCS``
   docs with planted exact and near duplicates, and its first
   ``catalog.CHECK_DOCS`` rows as a check table;
2. sets up a ``local[<cores>]`` session (``sparkside.set_up``);
3. runs every suite query on the check table and compares each answer
   with the query's DuckDB oracle in ``queries.ORACLES``; this also warms
   every query's code path;
4. runs ``dedup_sketch_pairs`` once on the full table, which writes the
   session's sketch table (``q.dedup_sketch_pairs.first_s``, kept out of
   the suite);
5. runs timed passes of the whole query list on the full table, each
   answer written as parquet, until the run's seconds have passed;
   ``docs_per_s`` is table docs over the median pass;
6. checks every timed answer: it must equal the first pass's answer, and
   for the queries in ``FULL_ORACLE`` also the oracle on the full table.
   The other oracles replay per-shingle hashing in SQL and take minutes
   at the timed size, so those queries are held to their oracle on the
   check table.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import catalog
import checks
import gen
import sparkside
from envinfo import log

FULL_ORACLE = ("dedup_exact", "text_quality", "text_gopher_quality",
               "text_unigram_surprisal")


def run_query(spark, name: str, table_dir: str, out: str, group: str) -> None:
    """One registry query as job group ``group``, its answer committed as
    parquet, then the release of the frames the query cached."""
    from pdf_extract_spark.queries import QUERIES
    from pdf_extract_spark.runtime import release_caches

    spark.sparkContext.setJobGroup(group, name)
    try:
        QUERIES[name](spark, table_dir).write.mode("overwrite").parquet(out)
    finally:
        release_caches()


def checked_answer(name: str, path: str, documents: str) -> bool:
    """Does the answer at ``path`` equal the oracle over ``documents``?"""
    from pdf_extract_spark.queries import ORACLES

    try:
        return checks.same_answer(checks.read_rows(path),
                                  checks.oracle_rows(ORACLES[name], documents))
    except Exception:  # an oracle or answer that cannot be read fails the check
        traceback.print_exc()
        return False


def run(args, work: str, cores: int, conf: dict, root: str, cache: str) -> dict:
    docs, check_docs = args.table_docs or catalog.TABLE_DOCS, catalog.CHECK_DOCS
    t0 = time.perf_counter()
    inputs = gen.cached_inputs(
        cache, args.workload, args.seed, {"docs": docs, "check_docs": check_docs},
        lambda p: gen.build_curation(p, args.seed, docs, check_docs))
    inputs_s = time.perf_counter() - t0
    full, small = os.path.join(inputs, "full"), os.path.join(inputs, "check")

    log("set-up")
    spark, setups = sparkside.set_up(conf, cores, catalog.SETUP_CYCLES)

    log("check table")
    # the oracles run on a DuckDB thread while Spark answers the same
    # queries; nothing here is timed
    from pdf_extract_spark.queries import ORACLES

    check_failed = []
    small_docs = os.path.join(small, "documents.parquet")
    with ThreadPoolExecutor(1) as pool:
        want = {q: pool.submit(checks.oracle_rows, ORACLES[q], small_docs)
                for q in catalog.SUITE}
        for q in catalog.SUITE:
            out = os.path.join(work, "check", q)
            try:
                run_query(spark, q, small, out, f"check.{q}")
                ok = checks.same_answer(checks.read_rows(out), want[q].result())
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                check_failed.append(q)

    log("sketch table")
    first_out = os.path.join(work, "first")
    t0 = time.perf_counter()
    run_query(spark, "dedup_sketch_pairs", full, first_out, "first")
    first_s = time.perf_counter() - t0

    def one_pass(k: int) -> dict:
        walls, oks = {}, {}
        t0 = time.perf_counter()
        for q in catalog.SUITE:
            t_q = time.perf_counter()
            try:
                run_query(spark, q, full, os.path.join(work, "out", f"p{k}", q), f"p{k}.{q}")
                oks[q] = True
            except Exception:  # a failed query fails its answer
                traceback.print_exc()
                oks[q] = False
            walls[q] = time.perf_counter() - t_q
        return {"wall_s": time.perf_counter() - t0, "query_s": walls, "ok": oks}

    log("timed passes")
    sampler = sparkside.MemorySampler(sparkside.jvm_process(spark).pid)
    sampler.start()
    try:
        passes = sparkside.timed_passes(args.seconds, one_pass)
    finally:
        mem = sampler.stop()

    log("check")
    failed = len(check_failed)
    answers = {q: os.path.join(work, "out", "p0", q) for q in catalog.SUITE}
    first_ok = {q: passes[0]["ok"][q] and (
        q not in FULL_ORACLE
        or checked_answer(q, answers[q], os.path.join(full, "documents.parquet")))
        for q in catalog.SUITE}
    if first_ok["dedup_sketch_pairs"]:
        first_ok["dedup_sketch_pairs"] = checks.same_answer(
            checks.read_rows(answers["dedup_sketch_pairs"]), checks.read_rows(first_out))
    for k, p in enumerate(passes):
        for q in catalog.SUITE:
            ok = first_ok[q] and p["ok"][q] and (k == 0 or checks.same_answer(
                checks.read_rows(os.path.join(work, "out", f"p{k}", q)),
                checks.read_rows(answers[q])))
            failed += not ok

    metrics = {"docs_per_s": docs / statistics.median(p["wall_s"] for p in passes),
               **sparkside.setup_metrics(setups), **mem}
    if args.trace:
        metrics["q.dedup_sketch_pairs.first_s"] = first_s
        for q in catalog.SUITE:
            io = [sparkside.group_io(spark, f"p{k}.{q}") for k in range(len(passes))]
            metrics[f"q.{q}.s"] = statistics.median(p["query_s"][q] for p in passes)
            metrics[f"q.{q}.shuffle_bytes"] = statistics.median(x["shuffle_bytes"] for x in io)
            metrics[f"q.{q}.spill_bytes"] = statistics.median(x["spill_bytes"] for x in io)
            metrics[f"q.{q}.rows_out"] = len(checks.read_rows(answers[q]))
    details = {"passes": [{"wall_s": p["wall_s"], "query_s": p["query_s"]} for p in passes],
               "setups": setups, "table_docs": docs, "check_docs": check_docs,
               "inputs_s": inputs_s, "first_s": first_s,
               "check_table_failed": check_failed}
    return {"metrics": metrics, "details": details,
            "attempted": len(catalog.SUITE) * (1 + len(passes)), "failed": failed,
            "correct": failed == 0}
