"""Re-tune the block-score stage knobs after a kernel change.

The cross-score kernel's per-pair cost dropped ~10x (round-5 exact
matrix char bound), which shifts the optimum for BOTH stage knobs that
were measured against the old kernel:

  * blocking.SALT_TARGET_PAIRS — pairs per cogroup salt group (was adaptive
    2M/dp clamped [32k, 250k], sized to the old kernel's DRAM
    footprint);
  * the scoring-stage over-decomposition multiplier in
    _util.scoring_npart (was dp*32, sized when the straggler tail was
    ~10%% of a kernel-dominated wall).

Runs the bench corpus block-score stage (fuzzy_pass on the minimal
standardisation, the BASELINE.md headline) for each combo, mirrored
A/B order within each pair so linear machine drift cancels.  One
SparkSession for all legs (the stage is steady-state; JIT warmup is
burned by a throwaway leg).

Usage: python scripts/tune_block_score.py [cpus] [combo...]
  combo = salt_target:npart_mult, e.g. 250000:8
"""

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    combos = []
    for arg in sys.argv[2:]:
        st, mult = arg.split(":")
        combos.append((int(st), int(mult)))
    if not combos:
        combos = [(62_500, 32), (250_000, 8), (250_000, 2), (1_000_000, 1)]

    import bench as B
    from address_matcher_spark.operators import _util, blocking
    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf, n_search, n_ref = B._er_scale(sf_dir)
    corpus = B._bench_corpus(n_search, n_ref)
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = P.MatchConfig()
    sides = B._sides(spark, corpus, cfg)
    bc = B._bc_ref(sides, cfg)
    pairs = B.count_candidate_pairs(sides)

    orig_npart = _util.scoring_npart

    def leg(salt_target, mult) -> float:
        blocking.SALT_TARGET_PAIRS = salt_target

        def npart(spark_, residue_rows=None):
            dp = spark_.sparkContext.defaultParallelism
            if residue_rows is None:
                return dp * mult
            return max(dp, min(dp * mult, residue_rows // 64))

        _util.scoring_npart = npart
        t0 = time.perf_counter()
        out = P.fuzzy_pass(sides["smin"], sides["rmin"], "Postcode", cfg,
                           "tune", broadcast_ref=bc)
        n = out.count()
        w = time.perf_counter() - t0
        _util.scoring_npart = orig_npart
        return w, n

    leg(*combos[0])  # warmup, discarded
    walls: dict[tuple, list] = {c: [] for c in combos}
    # mirrored order: A B C ... C B A, twice
    order = combos + combos[::-1] + combos + combos[::-1]
    for c in order:
        w, n = leg(*c)
        walls[c].append(w)
        print(f"salt={c[0]} mult={c[1]} wall={w:.2f}s kept={n}", flush=True)
    print("---")
    for c, ws in walls.items():
        gm = statistics.geometric_mean(ws)
        print(f"salt={c[0]:>8} mult={c[1]:>3}: gm={gm:.2f}s "
              f"({', '.join(f'{w:.2f}' for w in ws)}) "
              f"pps={pairs / gm / 1e6:.2f}M")


if __name__ == "__main__":
    main()
