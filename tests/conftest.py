import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("sequila_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sequila_spark.session import register

    register(spark)
    yield spark


SF_SMALL = os.environ.get("SEQUILA_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SEQUILA_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def two_contig_fasta(tmp_path_factory):
    """A deterministic two-contig FASTA (seeded bases, 60-column lines,
    each contig ending on a short line) of about 19 KB, so 4 KB BGZF
    pieces give several blocks, with its samtools-faidx ``.fai`` computed
    here rather than by the product's indexer."""
    rng = random.Random(18)
    path = tmp_path_factory.mktemp("fasta") / "two_contig.fasta"
    fasta, fai, off = [], [], 0
    for name, length in (("chr1", 12_345), ("chrM", 6_789)):
        seq = "".join(rng.choice("ACGT") for _ in range(length))
        head = f">{name}\n"
        body = "".join(seq[i : i + 60] + "\n" for i in range(0, length, 60))
        fai.append(f"{name}\t{length}\t{off + len(head)}\t60\t61\n")
        fasta.append(head + body)
        off += len(head) + len(body)
    path.write_text("".join(fasta))
    (path.parent / (path.name + ".fai")).write_text("".join(fai))
    return str(path)
