"""Load-gated Avro ingest measurement (VERDICT r11 item 8).

The r11 round could not judge the Avro decode tiers because isolated
re-measurements swung 50->558 MB/s attempt-to-attempt under host
contention. This harness removes the ambiguity instead of the code:

- WAITS for a quiet window (1-min loadavg < ``--gate``, default 2.0)
  before every sample, up to ``--max-wait`` seconds;
- builds bench.py's fixture ONCE (bench.write_avro_fixture: 32
  replicated ~20 MB OCF files) and takes best-of-N (default 5) of
  bench.time_avro_decode over it (noop sink, throughput normalized by
  uncompressed record bytes);
- emits one JSON line with per-sample rates AND the loadavg observed
  around each sample, so the number is self-adjudicating.

Per the round rule, code changes to the decode tiers are justified
only if the STABLE number lands under ~200 MB/s.

Usage: python tools/avro_stable.py [--gate 2.0] [--n 5]
       [--max-wait 900]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def wait_quiet(gate: float, max_wait: float) -> float:
    t0 = time.time()
    while time.time() - t0 < max_wait:
        load = os.getloadavg()[0]
        if load < gate:
            return load
        time.sleep(10)
    return os.getloadavg()[0]  # give up, record honestly


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gate", type=float, default=2.0)
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--max-wait", type=float, default=900.0)
    args = ap.parse_args()

    import shutil
    import tempfile

    import bench
    from datastream_delta_plugins_spark.session import get_spark

    spark = get_spark("avro_stable", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))

    fixture_dir = tempfile.mkdtemp(prefix="avro_stable_")
    samples = []
    try:
        total_mb = bench.write_avro_fixture(fixture_dir)
        for i in range(args.n):
            load_before = wait_quiet(args.gate, args.max_wait)
            t0 = time.time()
            rate, conv = bench.time_avro_decode(spark, fixture_dir,
                                                total_mb)
            samples.append({
                "decode_mb_s": round(rate, 1),
                "convert_mb_s": round(conv, 1),
                "load_before": round(load_before, 2),
                "load_after": round(os.getloadavg()[0], 2),
                "wall_sec": round(time.time() - t0, 1),
            })
            print(f"sample {i}: {samples[-1]}", file=sys.stderr)
        best = max(s["decode_mb_s"] for s in samples)
        best_conv = max(s["convert_mb_s"] for s in samples)
        print(json.dumps({
            "metric": "avro_stable",
            "decode_mb_s_best": best,
            "convert_mb_s_best": best_conv,
            "gate": args.gate,
            "samples": samples,
        }))
    finally:
        shutil.rmtree(fixture_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
