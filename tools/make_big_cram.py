#!/usr/bin/env python3
"""Multi-container CRAM builder (VERDICT r12 task 4).

Repeats the single 3,172-record data container of the reference
project's NA12878.slice.cram N times between the original file header
and EOF container.  This is a LEGAL CRAM: every container carries its
own compression header and containers are self-contained decode units
(hts-specs CRAM 3.0 §8-9), so the decoder sees N independent containers
with identical content — exactly what the SCALE.md round-12 task-shape
experiment used at 512 copies.

Two standard outputs:

- ``fixtures/bigcram/NA12878.slice.cram`` (--copies 64, ~19 MB,
  202 k records): the per-round driver-gate fixture.  The file KEEPS the
  ``NA12878.slice`` stem so ``sample_id`` matches the paired
  fixtures/slicebam parquet (decoded from the BAM twin by the
  independent BAM codec); the gate oracle replicates that parquet
  CROSS JOIN range(copies).
- ``testdata_big/bigcram/NA12878.slice.cram`` (--copies 4096, ~1.2 GB,
  13.0 M records): the GB-scale anchor input (its Spark leg),
  gitignored like testdata_big/bigbam.

Usage: python tools/make_big_cram.py [--copies 64] [--out PATH]
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

SRC = "/root/reference/src/test/resources/NA12878.slice.cram"


def build(copies: int) -> bytes:
    from sequila_spark.sources.cramcodec import scan_containers_file

    _names, _text, conts = scan_containers_file(SRC)
    assert len(conts) == 1, "expected the single-container slice fixture"
    h = conts[0]
    data = open(SRC, "rb").read()
    head = data[: h["abs_offset"]]
    container = data[h["abs_offset"] : h["abs_data_offset"] + h["length"]]
    eof = data[h["abs_data_offset"] + h["length"] :]
    return head + container * copies + eof


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=64)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or os.path.join(
        REPO, "fixtures", "bigcram", "NA12878.slice.cram"
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    blob = build(args.copies)
    with open(out, "w+b") as fh:
        fh.write(blob)
    print(f"{out}: {args.copies} containers, {len(blob)/1e6:.1f} MB")


if __name__ == "__main__":
    main()
