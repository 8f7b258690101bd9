#!/usr/bin/env python3
"""Repeatable 10x-scale guard (SCALE.md "sfx10" sweep, one command).

Round 7's one-off sweep caught a silent n^2/2^planes quadratic that had
sat invisible for four rounds (d6's pinned LSH plane count, 185x wall
clock at 10x data). Round 9 widens the measured set from 8 queries to the
full heavy tier (every benched query over ~1.5 s quiet, plus the original
8): it synthesizes a structure-preserving 10x copy of every sf0.1 fixture
the subset needs, times the subset at both scales (rep-min of 2 runs
each, through graft.Bench's noop-write harness), and fails if any
10x-data ratio exceeds the bound.

Usage:
    python3 tools/scale_sweep.py [--bound 9] [--sf01 DIR] [--x10 DIR]

Synthesis (mirrors SCALE.md section "sf1-equivalent validation"):
  - embeddings x10: replica k offsets vec_id by k*n and flips the sign
    of dimension i iff popcount(i & k) is odd — a Hadamard-style
    orthogonal transform, so within-replica geometry is EXACT and
    cross-replica cosine ~ 0 (near-dup/ANN structure grows linearly,
    like an organically larger corpus).
  - documents x10: replica k offsets doc_id by k*n and suffixes every
    whitespace token with "_k" (k>0), pushing cross-replica shingle
    Jaccard to 0 while preserving within-replica dup structure verbatim.
  - part x10: keys offset per replica, every other column VERBATIM — the
    10x-repeated names are the identical-name hot-block stress for the
    entity-resolution row, deliberately adversarial.
  - orders/lineitem/customer/supplier x10: every key column offset by
    k * (max over its OWN key domain) — the same offset constant wherever
    a domain appears (l_orderkey uses orders' offset, l_partkey uses
    part's), so replica-k facts join replica-k dimensions exactly and the
    join/group structure is that of an organically 10x corpus. Nation
    keys stay VERBATIM: nation/region are bounded dimension tables at any
    corpus size, so the 25-node trade graph keeps its shape while its
    edge-building scans grow 10x — exactly the 100 TB regime for the
    graph family.
  - events x10: event_id/user_id offset per replica, timestamps VERBATIM
    — 10x event density over the same time range (windows keep their
    count, per-window and per-user state grows 10x).
  - nation/region: copied 1x (dimension tables don't scale with corpus).

Validation data only — correctness oracles always run against the
driver fixtures.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

# Queries whose work is linear in documents CHAR mass, not rows. The
# documents x10 synthesis suffixes every token with "_k" to zero
# cross-replica Jaccard, which grows char mass ~13.3x while rows grow
# 10x (1,485,576 -> 19,728,432 chars at sf0.1) — so a char-mass-linear
# operator legitimately reads up to ~13x wall at "10x". d12's band
# (7.3x r13, 7.6x r14, 8.7x-9.3x r14 continuation) straddles the
# generic 9.0 bound; per unit CHAR it is 0.65x — sub-linear. Rather
# than pin a constant coupled to the synthesis's suffix scheme (ADVICE
# r14: if char growth dropped back toward 10x, a hardcoded 13.0 would
# silently tolerate a ~40% real regression), the bound for these
# queries is the char-mass ratio MEASURED from the two fixtures at
# sweep time, x1.1 wall-noise slack — loud for a real quadratic (10x
# rows x 13x chars >> 14.6) and exactly as tight as the synthesis is.
# Membership = the family SCALE.md's r13 full sweep adjudicated as
# char-mass-linear (its worst ratios were exactly d11 8.4x, bleu1 8.4x,
# d12 8.4x, wer1 8.3x, d10 7.2x — "the bound is carried by
# deflated-linear char workloads"): these rows hash/scan whole token
# strings, so the "_k" suffix's +2 chars/token is real work for them.
# r15 filing: bleu1 read 9.9x in a chunked sweep (sf0.1-side rep-min
# dip, 1.17 s) and 8.0x on the 3-rep isolated protocol (1.30 ->
# 10.47 s; x10 absolute stable 10.5-12.0 s across every read since
# r13) — denomination, not drift.
# r15 continuation 3: cs1_code_switch joined the family at its first
# sweep — its work is regexp scans (CJK probe, stopword membership)
# over every window's text, so the "_k" suffix chars are real work:
# 9.9x wall on 13.28x chars = 0.75x per unit char, sub-linear.
# fk1_readability is the same family semantically (regexp syllable
# runs over all chars) but read 4.1x — well inside the generic bound,
# so it is NOT listed (the ADVICE-r14 rule: don't loosen a bound that
# isn't needed).
CHAR_MASS_BOUNDED = {"d12_span_removal", "chrf1_eval", "bleu1_eval",
                     "wer1_eval", "d11_containment", "d10_dup_spans",
                     "cs1_code_switch"}
CHAR_BOUND_SLACK = 1.1

# Second-decade (--x100) per-query bounds for CORPUS-PROPORTIONAL-BATCH
# queries: their total input grows 100x per decade-pair (corpus x10 AND
# query batch x10), so the per-decade wall baseline is ~10-12x (probe
# fan-out adds a log term), NOT the fixed-task 9. pq3 measured r15:
# decade-1 4.8-5.0x (overhead-amortized), decade-2 20.3x at 16g
# (amortization debt + planes 16->19 fan-out + the candidate stream
# crossing memory-resident shuffle into spill on fixed 32 threads) —
# TWO-DECADE exponent 0.94 vs total input, the linear route working
# (pq2_production, the quadratic serving shape on the same task: 44.3x
# decade-2 / exp 1.31, 1012 s vs pq3's 247 s at x100). The bound keeps
# the x100 guard loud for a real quadratic (which would read >= 44x).
X100_BOUND = {
    "pq3_batch_join": 25.0,
    # bitext2: both sides grow 10x/decade and lshAutoPlan HOLDS 0.999
    # recall at the 0.9 mining band by growing tables 29 (2k) -> 57
    # (20k) -> 93 (200k vectors), all at radius 0 — so decade-2 work
    # per vector grows 93/57 = 1.63x on top of the 10x data (modeled
    # ~16x; measured 18.4x rep-min at x100, r15 continuation 2). The
    # bound keeps the guard loud for a real quadratic (>= 40x) while
    # admitting the documented recall-holding table growth. The dial a
    # pipeline owner can turn instead: cap tables and spend
    # boundary-pair (cosine ~ 0.9) recall — planted/high-band recall
    # is table-count-insensitive (near-identical vectors collide in
    # every table).
    "bitext2_production": 23.0,
}


def char_mass_ratio(base_dir: str, big_dir: str) -> float:
    """Measured documents-text char growth between the two fixture dirs
    actually benched (sf0.1 -> x10, or x10 -> x100 under --x100)."""
    import duckdb
    con = duckdb.connect()
    def mass(d):
        return con.execute(
            f"SELECT sum(strlen(text)) FROM '{d}/documents.parquet'"
        ).fetchone()[0]
    return mass(big_dir) / mass(base_dir)

SUBSET = [
    # the original 8 (rounds 7-8)
    "d6_production",      # cost-ranked LSH at the 0.8 corpus-dedup threshold
    "sim2_production",    # corpus-adaptive ANN over the planted corpus
    "d8_keep_best",       # pair rounds + one argmax exchange (linear claim)
    "d9_semantic_dedup",  # sign buckets + multiprobe + CC (linear x polylog)
    "kmeans1_lloyd",      # rounds x N (linear claim)
    "er2_star_resolve",   # bounded-output ER on the VERBATIM-name replicas —
                          # the exact hot-block shape that put er1 (the
                          # clique form, known-quadratic output) at 15x
    "dsir1_importance",   # two token scans + 128-row model tables + one
                          # doc rollup (linear claim)
    "d11_containment",    # df-bounded span-blocked pair generation — pair
                          # work COULD go quadratic if the df ceiling failed
    # round-9 widening: the rest of the heavy tier (> ~1.5 s quiet)
    "boot1_bootstrap_ci",    # one-kernel draws + 64-sum aggregate (linear)
    "pca1_power_iteration",  # rounds x N over embeddings (linear)
    "d10_dup_spans",         # window-over-digest spans (linear x per-part sort)
    "mb1_market_basket",     # within-basket pairs (bounded by basket size)
    "lp1_communities",       # edge build 10x, 25-node graph constant
    "pr1_pagerank",          # same shape as lp1
    "tri1_triangles",        # ordered 3-way self-join on the tiny edge set
    "kcore1_dense_core",     # peel rounds on the tiny heavy-edge set
    "ml4_cv",                # folds x iters one-aggregate scans (linear)
    "woe1_woe_iv",           # quantile bins + one grouped agg (linear)
    # round-12 additions
    "pq2_adc_search",        # coarse scan + compiled ADC over byte codes
    "louv1_local_move",      # lp1 edge build + vote-shaped count + 2 audits
    "inc2_neardup_admission",  # asymmetric d4 index: batch x postings
    # pq2_production is deliberately NOT under the default bound: its twin
    # QUERY SET grows with the corpus (100 -> 1000 queries at 10x), so
    # total ADC work is queries x (nprobe/nlist) x n — the batch-retrieval
    # quadratic the r12 verdict adjudicated. Measured 9.6x at 10x in r13
    # (2.39 -> 22.83 s; the in-plan-LUT base SPEEDUP pushed the ratio over
    # the 9 bound — absolute x10 wall went DOWN from r12's 28.8 s). The
    # fixed-query-set contract is pq2_adc_search's entry above. To
    # re-measure, temporarily add it back and run --bound 15.
    "st1_stream_window",     # streaming windowed agg over events (linear)
    "st6_stream_cdc",        # streaming last-per-user merge, state ~ users
    "q18_large_orders",      # group-filter-join TPC-H heavy hitter
    "q21_waiting_suppliers", # multi-join TPC-H heavy hitter
    # round-9 additions: the new operators with corpus-scan shapes
    "bpe2_encode_stats",     # vocab-sized merges + one broadcast corpus join
    "hn2_production",        # ANN-routed band mining (r9 spot-check: 5.0x)
    # round-14: the linear batch-retrieval route ON the PQ index — the
    # corpus-proportional twin sweep (pq2_production's task) answered via
    # LSH candidates + ADC-on-candidates; this guard row is what makes
    # the pq2_production quadratic a measured CHOICE between two routes
    "pq3_batch_join",        # auto-LSH candidates + ADC + rerank (linear)
    # round-15: the WHOLE ship line as one guard row — curation (gate +
    # exact dedup + CC keep-best + span surgery), temperature mix, group
    # split, train packing, card, with stage boundaries materialized
    # (localCheckpoint); every stage is individually linear and the
    # composition's shuffle bill is spec-pinned — the sweep pins its WALL
    "release1_training_release",
    "core1_kcenter_coreset",  # k greedy argmax rounds x broadcast centers
                              # (kmeans1's join shape + a 1-row argmax;
                              # linear claim, rounds fixed at k=8)
    # round-10 additions: novel iterative/kernel shapes
    "bleu1_eval",            # 4 clipped-count kernel passes, 1-row aggregate
    "ml5_lang_train",        # featurize once + classes x iters 1-row aggs
    "uni1_unigram_train",    # one corpus pass + vocab-sized Viterbi-EM
    "pack2_nostraddle",      # shard exchange + sequential per-shard fold
    # round-11 additions: new corpus-scan / layout shapes
    "kn1_kneser_ney",        # one bigram exchange, vocab-sized downstream
    "bf1_file_bloom",        # layout window + id-only bit tables
    "pq1_product_quantize",  # kmeans shape x subspace keys (heaviest new row)
    "st16_stream_holt",      # single-key stateful stream, state O(open days)
    # round-11 second pass: the new ML/graph/robust-stats shapes
    "als1_factorization",    # ratings rollup + two keyed Gram half-steps
    "bfs1_shortest_paths",   # edge build 10x, bounded-graph rounds constant
    "gbt1_boosted_stumps",   # ONE corpus scan to the 480-cell grid
    "ts3_theil_sen",         # daily rollup 10x, days^2 pairs CONSTANT
    # round-11 third pass: attribution/alignment/graph-audit shapes
    "att1_position_attribution",  # two key exchanges on the touch stream
    "dtw1_series_align",     # daily rollup 10x, days*w band DP constant
    "hits1_hubs_auth",       # edge build 10x, 8 bounded-graph half-steps
    "mod1_modularity",       # lp1's edge build + ONE tagging join + 2 aggs
    # round-11 fourth pass: eval/rank/frontier shapes
    "wer1_eval",             # row-local DP (token count grows exactly 10x)
    "cusum1_drift",          # daily rollup 10x, per-type calendar windows
    "lorenz1_deciles",       # two-phase rank over the RLE value domain
    "conf1_interval",        # 3 corpus passes + rankedRle quantile
    "sky1_skyline",          # per-price maxima + bucketed staircase
    # round-13 additions: new corpus-scan shapes
    "d12_span_removal",      # digest df + positioned occurrences + in-row cut
    "louv2_coarsen",         # lp1-shaped edge build, 6 bounded-graph rounds
    # round-11 fifth pass: rank-based stats + experiment shapes
    "mw1_rank_test",         # user rollup + rankedRle + 1-row aggregate
    "trim1_robust_means",    # projection + rankedRle + 1-row aggregate
    "did1_diff_in_diff",     # user-keyed conditional rollup + 1-row agg
    "stl1_decompose",        # daily rollup 10x, RANGE window on the grid
    "tr1_textrank",          # 2 corpus scans, vocabulary-sized walk
    "rho1_spearman",         # two rankedRle passes + value join-backs
    "ppr1_proximity",        # pr1's edge build, bounded-graph rounds
    "ipw1_effect",           # user rollup + iters 1-row GD aggregates
    "platt1_calibration",    # score GD: iters 1-row aggs + 10-bin rollup
    "dr1_doubly_robust",     # user rollup + 2 ridge folds + GD + 1 fold
    # round-15: chrf1 re-admitted under the MEASURED char-mass bound
    # (it was excluded while the bound was row-denominated: its work is
    # linear in chars, which this synthesis grows ~13-14x while rows
    # grow 10x — measured 9.3x wall = 0.67x per unit char, SCALE.md r11)
    "chrf1_eval",            # CharNgramStats kernel, linear in char mass
    # round-15 continuation: the memorization audit's corpus-vs-corpus
    # shingle-hash membership join (train distinct + gen-instance left
    # join + two rollups — the one new shape where a quadratic could
    # hide; the "_k" suffix synthesis zeroes cross-replica overlap, so
    # copied mass grows exactly linearly like an organic 10x corpus)
    "mem1_ngram_novelty",
    # the SFT ship line (gate -> conv assembly -> no-straddle fold ->
    # card): release1's guard rationale for the instruct-data leg —
    # every stage individually linear, the fold per-shard sequential
    "release3_sft_release",
    # round-15 continuation 2: the corpus-scale bitext-mining route —
    # signature-keyed candidate join (both sides big) + the two-exchange
    # margin fold; bitext1's exact cross-score arm is the documented
    # Θ(|A|·|B|) eval form and is NOT swept (pq2's precedent)
    "bitext2_production",
    # round-15 continuation 3 (verify-tier, not benched — swept for the
    # shape evidence): the curation-audit batch
    "fk1_readability",       # in-row regexp counts + one histogram rollup
    "cs1_code_switch",       # in-row window-lang arrays + one rollup
    "typo1_spell_noise",     # term count + vocab-sized deletion join
    "mink1_membership",      # term count + vocab join + doc/class rollups
    "bq1_binary_hamming",    # q_id Hamming window over queries x corpus
    "ssp1_prototype_prune",  # lloyd rounds + cid rank (kmeans1's family)
    "clq1_cluster_purity",   # d4 pair stream + d7 CC + id-keyed audit
    "canary1_exposure",      # corpus only in the term count; 64-row cands
]

# key columns offset per replica, by table: (column -> key-domain table)
# the offset constant for a domain is max(key in domain table) + 1, shared
# by every referencing column so joins stay replica-consistent
KEYS = {
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"),
               "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                 "l_partkey": ("part", "p_partkey"),
                 "l_suppkey": ("supplier", "s_suppkey")},
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "events": {"event_id": ("events", "event_id"),
               "user_id": ("events", "user_id")},
}
COPY_1X = ["nation", "region"]  # bounded dims: verbatim, unscaled


def synthesize(src: str, dst: str, force: bool) -> None:
    import duckdb
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    # one offset constant per key domain, computed up-front and shared
    domains = sorted({dom for t in KEYS.values() for dom in t.values()})
    off = {}
    for table, colname in domains:
        off[(table, colname)] = con.execute(
            f"SELECT max({colname}) + 1 FROM '{src}/{table}.parquet'"
        ).fetchone()[0]
    for table in COPY_1X:
        out = os.path.join(dst, f"{table}.parquet")
        src_file = f"{src}/{table}.parquet"
        if (os.path.exists(out)
                and os.path.getmtime(out) > os.path.getmtime(src_file)
                and not force):
            continue
        shutil.copyfile(src_file, out)
        print(f"[synth] {table}: copied 1x (dimension table)")
    for table in sorted(KEYS):
        out = os.path.join(dst, f"{table}.parquet")
        src_file = f"{src}/{table}.parquet"
        n = con.execute(
            f"SELECT count(*) FROM '{src_file}'").fetchone()[0]
        if os.path.exists(out) and not force:
            # the driver regenerates the source fixtures at will: a cached
            # x10 of an OLDER generation would make the ratio meaningless,
            # so reuse only if the source hasn't changed since synthesis
            # (mtime) and the row contract still holds
            fresh = os.path.getmtime(out) > os.path.getmtime(src_file)
            n10 = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
            if fresh and n10 == 10 * n:
                print(f"[synth] {table}: up to date, keeping "
                      f"(use --force to rebuild)")
                continue
            print(f"[synth] {table}: stale (source regenerated or row "
                  f"mismatch {n10} != 10*{n}), rebuilding")
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{src_file}'").fetchall()]
        keycols = KEYS[table]
        order_key = next(iter(keycols))
        sel = []
        for c in cols:
            if c in keycols:
                sel.append(f"t.{c} + k.k * {off[keycols[c]]} AS {c}")
            elif table == "documents" and c == "text":
                # suffix every token with _k (k>0): cross-replica shingle
                # Jaccard -> 0, within-replica dup structure verbatim
                sel.append(
                    "CASE WHEN k.k = 0 THEN t.text ELSE array_to_string("
                    "list_transform(string_split(t.text, ' '), "
                    "s -> s || '_' || CAST(k.k AS VARCHAR)), ' ') END AS text")
            elif table == "embeddings" and c == "embedding":
                # Hadamard-style sign flip: within-replica geometry exact,
                # cross-replica cosine ~ 0
                sel.append(
                    "CAST([CASE WHEN bit_count(CAST(i - 1 AS BIGINT) & k.k) "
                    "% 2 = 1 THEN -t.embedding[i] ELSE t.embedding[i] END "
                    "FOR i IN RANGE(1, 1 + len(t.embedding))] AS FLOAT[]) "
                    "AS embedding")
            else:
                sel.append(f"t.{c}")
        con.execute(f"""
            COPY (
              SELECT {', '.join(sel)}
              FROM '{src_file}' t
              CROSS JOIN (SELECT unnest(range(10)) AS k) k
              ORDER BY {order_key}
            ) TO '{out}' (FORMAT PARQUET)""")
        n10 = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        assert n10 == 10 * n, f"{table}: {n10} != 10*{n}"
        print(f"[synth] {table}: {n} -> {n10} rows")


def bench_once(sf_dir: str, out_file: str, subset, shuffle=None) -> dict:
    # Bench swallows artifact-write failures (stderr + exit 0); never let
    # a stale file from a previous sweep satisfy the existence check
    if os.path.exists(out_file):
        os.remove(out_file)
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
               SPARK_GRAFT_ONLY=",".join(subset),
               SPARK_GRAFT_BENCH_OUT=out_file)
    if shuffle is not None:
        env["SPARK_GRAFT_SHUFFLE"] = str(shuffle)
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                       env=env, capture_output=True, text=True)
    if r.returncode != 0 or not os.path.exists(out_file):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"bench run failed for {sf_dir}")
    with open(out_file) as f:
        d = json.load(f)
    if d["errors"]:
        raise SystemExit(f"bench errors at {sf_dir}: {d['errors']}")
    return d["queries"]


def rep_min(sf_dir: str, tag: str, reps: int, subset, shuffle=None) -> dict:
    runs = []
    for i in range(reps):
        out = os.path.join(tempfile.gettempdir(), f"sweep_{tag}_{i}.json")
        q = bench_once(sf_dir, out, subset, shuffle)
        print(f"[bench] {tag} rep {i} (shuffle="
              f"{shuffle if shuffle is not None else 'default'}): " +
              " ".join(f"{k}={v:.2f}" for k, v in q.items()))
        runs.append(q)
    return {k: min(r[k] for r in runs) for k in runs[0]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bound", type=float, default=9.0,
                    help="max allowed 10x-data wall-clock ratio")
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--x10", default="/tmp/sfx10_sweep")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", default=None,
                    help="comma-separated subset of SUBSET to run")
    ap.add_argument("--force", action="store_true",
                    help="rebuild the synthesized fixtures")
    ap.add_argument("--x100", action="store_true",
                    help="measure the SECOND decade (x10 -> x100): "
                         "chain-synthesizes /tmp/sfx100 from the x10 "
                         "fixture and compares against x10 (SCALE.md "
                         "third-decade protocol, fresh JVM per rep)")
    ap.add_argument("--x100-dir", default="/tmp/sfx100")
    ap.add_argument("--shuffle", default="auto",
                    help="shuffle-partition sizing per run: 'auto' sizes "
                         "each scale to min(1024, cpus * scale multiplier) "
                         "— the deployment discipline (COST.md section 2: "
                         "partitions scale with input; a pinned 32 spills "
                         "at x100, SCALE.md R12 als1) — 'off' keeps the "
                         "Bench default, an int pins BOTH runs")
    args = ap.parse_args()
    subset = SUBSET
    if args.only:
        # names outside SUBSET are allowed (one-off decomposition runs —
        # e.g. timing d7 alone to isolate clq1's audit share); Bench
        # validates against the full query registry and fails loudly on
        # a genuinely unknown name
        subset = [q.strip() for q in args.only.split(",") if q.strip()]

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def sized(mult: int):
        if args.shuffle == "off":
            return None
        if args.shuffle == "auto":
            # AQE (on in Bench) coalesces the excess, so over-provisioning
            # costs task-launch overhead only; under-provisioning spills
            return min(1024, cpus * mult)
        return int(args.shuffle)

    synthesize(args.sf01, args.x10, args.force)
    if args.x100:
        synthesize(args.x10, args.x100_dir, args.force)
        base_dir, big_dir = args.x10, args.x100_dir
        base = rep_min(args.x10, "x10", args.reps, subset, sized(10))
        big = rep_min(args.x100_dir, "x100", args.reps, subset, sized(100))
    else:
        base_dir, big_dir = args.sf01, args.x10
        base = rep_min(args.sf01, "sf01", args.reps, subset, sized(1))
        big = rep_min(args.x10, "x10", args.reps, subset, sized(10))

    char_ratio = char_mass_ratio(base_dir, big_dir)
    char_bound = max(args.bound, char_ratio * CHAR_BOUND_SLACK)
    print(f"\n[bound] measured documents char-mass ratio {char_ratio:.2f}x "
          f"-> char-linear bound {char_bound:.1f}x "
          f"for {sorted(CHAR_MASS_BOUNDED)}")

    lo, hi = ("x10", "x100") if args.x100 else ("sf0.1", "x10")
    print(f"\n{'query':<22} {lo:>7} {hi:>8} {'ratio':>7}  verdict")
    failed = []
    for q in subset:
        ratio = big[q] / base[q]
        bound = char_bound if q in CHAR_MASS_BOUNDED else args.bound
        if args.x100 and q in X100_BOUND:
            bound = X100_BOUND[q]
        ok = ratio <= bound
        if not ok:
            failed.append(q)
        print(f"{q:<22} {base[q]:>6.2f}s {big[q]:>7.2f}s {ratio:>6.1f}x"
              f"  {'ok' if ok else 'OVER BOUND'}")
    if failed:
        raise SystemExit(
            f"scale guard FAILED (> {args.bound}x at 10x data): {failed}")
    print(f"\nscale guard ok: all ratios <= {args.bound}x at 10x data")


if __name__ == "__main__":
    main()
