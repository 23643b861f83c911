import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

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


@pytest.fixture(scope="session")
def bench():
    """perfbench's NumPy-only ``gen`` and ``truth`` modules, whose inputs
    and expected outputs share no code with the product.  They import each
    other as top-level modules, so perfbench/ is on sys.path only while
    they load: left there, it would let test_imports_resolve accept a
    script's dangling ``import gen``."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import gen
        import truth
    finally:
        sys.path[:] = saved
        sys.modules.pop("gen", None)
        sys.modules.pop("truth", None)
    return gen, truth


@pytest.fixture(scope="session")
def gen_cohort(tmp_path_factory, bench):
    """An indexed cohort of two coordinate-sorted BAMs, S0 and S1, of 3,000
    reads each over perfbench's six contigs, written by perfbench's
    generator: (directory, the generator's Reads of each sample)."""
    gen, _ = bench
    d = tmp_path_factory.mktemp("cohort")
    samples = [gen.make_reads(700 + k, 3_000, sample=f"S{k}") for k in range(2)]
    for r in samples:
        gen.write_bam(str(d / f"{r.sample}.bam"), r)
    return str(d), samples
