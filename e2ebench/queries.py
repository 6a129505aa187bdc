"""The query workloads: `relational` and `shared_builds`.

Each run is one fresh JVM (`graftbench.QueryBench`). Its setup is the
repo's own correctness oracle run as the warmup: `graft.Verify` runs
every query once at sf0.001 and dumps its output. The timed pass then
runs the same queries at the timed scale, in an order permuted by the
seed. After it, `graft.Verify` dumps every query's output at the timed
scale. `tools/check.py` compares both dumps with DuckDB.
"""
import os
import random
import re
import subprocess
import sys
import time

# The full lists: every query of graft.queries.Relational, and
# the payer and warm readers of the 13 memo families of PERF.md's "Memo
# dependency map" (payer first). `--full` runs these; the default runs
# the smaller subsets below, sized to the benchmark's time budget.
RELATIONAL_FULL = [
    "q01_tpch_q1", "q02_select_arith", "q03_filter_chain", "q04_orderby_multi",
    "q05_global_agg", "q06_group_agg", "q07_join_inner", "q08_join_broadcast_agg",
    "q09_take_limit", "q10_count", "q11_union", "q12_distinct", "q13_topk_desc",
    "q14_group_two_phase", "q15_star_join", "q49_tpch_q6", "q50_tpch_q3",
    "q51_above_group_avg", "q53_graft_facade", "q76_tpch_q5", "q77_tpch_q10",
    "q97_sql_entry", "q114_inmemory", "q124_schema_drift_union", "q131_tpch_q8",
    "q137_tpch_q17", "q138_tpch_q13", "q139_tpch_q18", "q140_tpch_q22",
    "q141_tpch_q21", "q198_tpch_q14", "q199_tpch_q7", "q200_tpch_q15", "q302_tpch_q2",
    "q303_tpch_q4", "q304_tpch_q9", "q305_tpch_q11", "q306_tpch_q12", "q307_tpch_q16",
    "q308_tpch_q19", "q309_tpch_q20",
]
FAMILIES_FULL = {
    "trainedMerges97Of": ["q224_bpe_heldout", "q235_bpe_fertility", "q267_tokenizer_agreement"],
    "bpeFullTrainOf": ["q213_bpe_merges", "q216_bpe_vocab"],
    "wpTrainedMerges97Of": ["q281_wordpiece_heldout", "q282_wordpiece_fertility"],
    "unigramVocab97Of": ["q263_unigram_heldout", "q265_unigram_fertility"],
    "knnCurveOf": ["q234_knn_graph", "q323_hubness_graph", "q326_knn_rounds_curve"],
    "knnInitGraphOf": ["q327_knn_width_curve"],
    "conformalScoresOf": ["q321_conformal_ivf", "q325_conformal_curve"],
    "walkCorpusOf": ["q269_randwalk_corpus", "q272_louvain_move", "q273_walk_pmi"],
    "tradeRelWOf": ["q123_pagerank", "q170_bfs_levels", "q201_hits", "q208_sssp",
                    "q229_personalized_pagerank"],
    "lpaLabelsOf": ["q177_label_prop", "q221_modularity"],
    "dbscanPairsOf": ["q322_dbscan_cells", "q324_blocking_curve"],
    "winnowFpsOf": ["q227_winnow", "q228_winnow_pairs", "q233_pair_alignment"],
    "phashOf": ["q210_image_phash", "q211_phash_neardup", "q217_phash_incremental",
                "q261_phash_canonical", "q329_cross_modal_canonical"],
}

# Default subsets. relational: reference-parity operators and TPC-H
# shapes (scan, filter, join, aggregate, sort, distinct). shared_builds:
# the phash family, one memoized build (phashOf) that four queries read.
RELATIONAL = [
    "q01_tpch_q1", "q02_select_arith", "q06_group_agg", "q07_join_inner",
    "q12_distinct", "q49_tpch_q6", "q50_tpch_q3", "q131_tpch_q8",
]
# q329 is left out: its DuckDB oracle alone takes ~10 s per run.
FAMILIES = {"phashOf": FAMILIES_FULL["phashOf"][:4]}
FAMILY_OF = {q: f for f, qs in FAMILIES_FULL.items() for q in qs}


def ordered(workload, seed, full=False):
    """The workload's queries in the seed's order. For shared_builds the
    seed orders the families and the readers within each; a family stays
    contiguous behind its listed payer, so the same query pays each memo
    build on every seed (the payer is the first consumer in run order)."""
    rng = random.Random(seed)
    if workload == "relational":
        names = list(RELATIONAL_FULL if full else RELATIONAL)
        rng.shuffle(names)
        return names
    fams = list((FAMILIES_FULL if full else FAMILIES).values())
    rng.shuffle(fams)
    out = []
    for payer, *readers in fams:
        rng.shuffle(readers)
        out += [payer] + readers
    return out


def payers(names):
    """First query of each memo family in run order."""
    seen, out = set(), set()
    for q in names:
        f = FAMILY_OF.get(q)
        if f and f not in seen:
            seen.add(f)
            out.add(q)
    return out


def run_pass(ctx, names, sf_dir, warm_dir, trace, warm_verify, sf_verify=None, count=False,
             big=False):
    """One QueryBench JVM; returns its result dict plus `setup_s`. The
    warmup dumps to `warm_verify`, and the timed scale is dumped to
    `sf_verify` after the pass unless it is None. `big` (full lists or
    larger scales) allows a larger heap and 30 minutes."""
    out_json = os.path.join(ctx.work, "pass.json")
    spans = os.path.join(ctx.work, "spans.jsonl")
    args = [sf_dir, warm_dir, ",".join(names), "1" if trace else "0", out_json, spans,
            warm_verify, sf_verify or "-"] + (["count"] if count else [])
    t0 = time.time()
    res = ctx.jvm("graftbench.QueryBench", args, out_json, heap="6g" if big else "3g",
                  timeout=1800 if big else 170)
    res["jvm_s"] = time.time() - t0
    res["setup_s"] = res["ready_epoch_ms"] / 1e3 - ctx.last_popen_epoch
    return res


def check(ctx, sf_dir, verify_dir):
    """tools/check.py over a Verify dump: {query: None | failure line}.
    A query without an oracle (`ROWS`) is not checked, so it fails too."""
    script = os.path.join(ctx.root, "tools", "check.py")
    r = subprocess.run([sys.executable, script, sf_dir, verify_dir], capture_output=True,
                       text=True, cwd=ctx.work, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"),
                       timeout=170)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ROWS) (\S+?):? ", line + " ")
        if m:
            verdict[m.group(2)] = None if m.group(1) == "PASS" else line[:300]
    return verdict


def correctness(ctx, res, names, dumps):
    """Failed queries: crashed in the timed pass, or a Verify output that
    does not match DuckDB or is missing. `dumps` maps a label to the
    (sf directory, Verify dump) pair to check."""
    failed = {}
    for q in res["queries"]:
        if "error" in q:
            failed[q["name"]] = "timed: " + q["error"]
    t0 = time.time()
    for label, (sf_dir, dump) in dumps.items():
        verdict = check(ctx, sf_dir, dump)
        for q in names:
            if q not in verdict:
                failed.setdefault(q, f"{label}: no oracle verdict")
            elif verdict[q]:
                failed.setdefault(q, f"{label}: {verdict[q]}")
    res["check_s"] = time.time() - t0
    return failed


def timed_detail(res):
    return [{k: q[k] for k in ("name", "build_s", "exec_s", "plan_s", "count_s", "error")
             if k in q} for q in res["queries"]]

