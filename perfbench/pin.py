"""Record the generator digest and per-seed corpus facts in pins.json.

    python3 perfbench/pin.py --seeds 0-20

Run from the root of a checkout, and only when a change to the inputs
is intended: every benchmark run refuses to start when the generator
or a pinned seed's corpus no longer matches these pins.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="0-20", help="inclusive range a-b")
    args = p.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, os.getcwd())
    from perfbench import corpus
    from perfbench.workloads import WORKLOADS

    pins = {"generator": corpus.generator_digest(),
            "corpora": {name: {str(s): corpus.describe(
                corpus.make_corpus(wl.spec, s)) for s in range(lo, hi + 1)}
                for name, wl in WORKLOADS.items()}}
    with open(corpus.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned seeds {lo}-{hi} of {sorted(WORKLOADS)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
