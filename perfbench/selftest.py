#!/usr/bin/env python3
"""Self-test of the benchmark itself.

  python3 perfbench/selftest.py          # generators, then failure injection
  python3 perfbench/selftest.py --quick  # generators only (no JVM)

1. The seeded generators are deterministic: the same seed writes
   byte-identical inputs, another seed writes different ones, and seed 0
   leaves the corpus verbatim.
2. The output checks fail loudly: a lane that throws, a lane whose output
   is perturbed, and an ingest run whose blob store loses a file each make
   run.py report failures and exit non-zero instead of reporting a time.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(base, n)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check_generators(tmp):
    sizes = run.WORKLOADS["ingest"]["sizes"]
    src = os.path.join(run.DATA, "corpus")
    digests = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.corpus(src, os.path.join(tmp, "corpus", name), seed)
        gen.fixtures(os.path.join(tmp, "fixtures", name), seed, sizes)
        digests[name] = (tree_digest(os.path.join(tmp, "corpus", name)),
                         tree_digest(os.path.join(tmp, "fixtures", name)))
    assert digests["a"] == digests["b"], "same seed gave different inputs"
    assert digests["a"][0] != digests["c"][0], "another seed gave the same corpus"
    assert digests["a"][1] != digests["c"][1], "another seed gave the same fixtures"
    stats = gen.corpus(src, os.path.join(tmp, "corpus", "zero"), 0)
    for t in ("documents", "embeddings"):
        assert pq.read_table(os.path.join(tmp, "corpus", "zero", f"{t}.parquet")).equals(
            pq.read_table(os.path.join(src, f"{t}.parquet"))), f"seed 0 changed {t}"
    # Spark's `SELECT xxhash64(1, 2)` over two ints
    assert gen.spark_xxhash64_ints(1, 2) == (-8133857028838179022 & gen.M64)
    print(f"generators: deterministic per seed, seed 0 verbatim ({stats['docs']} docs)")


def expect_failure(workload, inject):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--inject", inject],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, cwd=os.path.dirname(HERE))
    last = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert proc.returncode != 0, f"{workload}/{inject}: exit code 0"
    assert not last["correct"] and last["failed"] > 0, f"{workload}/{inject}: {last}"
    print(f"{workload} --inject {inject}: exit {proc.returncode}, "
          f"failed {last['failed']} of {last['attempted']}")


def main():
    tmp = tempfile.mkdtemp(dir=build.build_dir() if os.path.isdir(build.build_dir()) else None)
    try:
        check_generators(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--quick" not in sys.argv:
        expect_failure("queries", "throw")
        expect_failure("queries", "perturb")
        expect_failure("ingest", "perturb")
    print("selftest passed")


if __name__ == "__main__":
    main()
