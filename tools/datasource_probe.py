"""Fixed cost of a registered Python data source against the mapInArrow
task loop the BAM readers use today.

Both sides read the same toy relation: 4 partitions, each one 10-row Arrow
batch with a ``sample_id`` column.  The data-source side is a
``pyspark.sql.datasource.DataSource`` registered as ``toy``; the other side
is ``spark.range(0, 4, 1, 4).mapInArrow(...)``.  For each repeat the probe
times building the DataFrame (for the data source, that is where Spark runs
the planner's Python worker) and then executing
``.where("sample_id = 'S0'").count()``, interleaving the two sides.  The
toy reader implements no ``pushFilters``: Spark 4.1 refuses a reader that
does unless ``spark.sql.python.filterPushdown.enabled`` is true.

Run: ``python3 tools/datasource_probe.py [--repeats 7] [--master local[4]]``.
It prints one JSON line per repeat and side, then the medians.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

SCHEMA = "sample_id string, pos int"
N_PART = 4
ROWS = 10


def _batch(i: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([f"S{i}"] * ROWS), pa.array(range(ROWS), pa.int32())],
        ["sample_id", "pos"],
    )


class _ToyReader(DataSourceReader):
    def partitions(self):
        return [InputPartition(i) for i in range(N_PART)]

    def read(self, partition):
        yield _batch(partition.value)


class ToySource(DataSource):
    @classmethod
    def name(cls):
        return "toy"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return _ToyReader()


def _map_in_arrow(spark):
    def task(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield _batch(i)

    return spark.range(0, N_PART, 1, N_PART).mapInArrow(task, SCHEMA)


def _data_source(spark):
    return spark.read.format("toy").load()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeats", type=int, default=7)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master(args.master)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(N_PART))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(ToySource)
    sides = {"data_source": _data_source, "map_in_arrow": _map_in_arrow}
    for build in sides.values():  # warm both paths once
        assert build(spark).where("sample_id = 'S0'").count() == ROWS

    times: dict[str, dict[str, list[float]]] = {
        s: {"build_s": [], "exec_s": []} for s in sides
    }
    for r in range(args.repeats):
        order = list(sides) if r % 2 == 0 else list(sides)[::-1]
        for side in order:
            t0 = time.perf_counter()
            df = sides[side](spark)
            t1 = time.perf_counter()
            n = df.where("sample_id = 'S0'").count()
            t2 = time.perf_counter()
            assert n == ROWS
            times[side]["build_s"].append(t1 - t0)
            times[side]["exec_s"].append(t2 - t1)
            print(json.dumps({"repeat": r, "side": side, "build_s": round(t1 - t0, 3),
                              "exec_s": round(t2 - t1, 3)}))
    print(json.dumps({
        side: {k: round(statistics.median(v), 3) for k, v in m.items()}
        for side, m in times.items()
    }))
    spark.stop()


if __name__ == "__main__":
    main()
