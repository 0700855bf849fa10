"""Self-test of the seeded input generation.

    python3 perfbench/selftest.py

For every workload: generating twice with one seed must give identical
input fingerprints, and another seed must change every table's
fingerprint. Needs no Spark; exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import inputs as gen
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    try:
        for name in sorted(WORKLOADS):
            a = gen.generate(name, 7, os.path.join(work, "a"))
            b = gen.generate(name, 7, os.path.join(work, "b"))
            c = gen.generate(name, 8, os.path.join(work, "c"))
            if a.fingerprints != b.fingerprints:
                print(f"FAIL {name}: seed 7 twice gave different inputs")
                return 1
            same = [t for t in a.fingerprints
                    if a.fingerprints[t] == c.fingerprints[t]]
            if same:
                print(f"FAIL {name}: seeds 7 and 8 gave identical {same}")
                return 1
            print(f"ok {name}: {a.rows}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
