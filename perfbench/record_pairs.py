"""Record the near_dup verified-pair-set digest of each seed.

    python3 perfbench/record_pairs.py 0 1 2 3

Runs ``dedup_minhash_lsh`` once per corpus and seed, applies the same
checks as the benchmark (Jaccard recomputed from raw text, planted
near-duplicates found), and merges the digests of the seeds that pass
into ``perfbench/expected_pairs.json``.  The benchmark then requires the
same pair sets for those seeds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main(seeds: list[int]) -> int:
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    spark = None
    try:
        run.configure_env(work, trace=False)
        import workloads
        from ic_spark import get_spark

        spark = get_spark("perfbench-record-pairs")
        spark.sparkContext.setLogLevel("ERROR")
        recorded = {}
        if os.path.exists(workloads.EXPECTED_PAIRS):
            with open(workloads.EXPECTED_PAIRS) as f:
                recorded = json.load(f)
        for seed in seeds:
            h = workloads.Harness(spark, work)
            wl = workloads.NearDup(h, seed)
            wl.build_inputs()
            wl.recorded = {}
            wl.iteration(measured=False)
            if h.problems or set(wl.digests) != set(wl.corpora):
                print(f"seed {seed}: not recorded: {h.problems}", file=sys.stderr)
                continue
            recorded[str(seed)] = dict(sorted(wl.digests.items()))
            print(f"seed {seed}: {recorded[str(seed)]}")
        with open(workloads.EXPECTED_PAIRS, "w") as f:
            json.dump(dict(sorted(recorded.items(), key=lambda kv: int(kv[0]))), f, indent=1)
            f.write("\n")
    finally:
        if spark is not None:
            run.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main([int(s) for s in sys.argv[1:]]))
