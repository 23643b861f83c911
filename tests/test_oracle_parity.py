"""Every queries()/oracle_sql() pair must hash-match its DuckDB oracle —
this mirrors the driver's CORRECTNESS gate (at the smaller sf by default;
set SEQUILA_ORACLE_SF=/root/testdata/sf0.01 for the driver-scale run)."""

import os

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare

# cram_decode's CRAMs are reference-based: without their FASTA the decode
# raises, so that one gate runs only where the FASTA exists.
_NEEDS_CRAM_FASTA = pytest.mark.skipif(
    not os.path.exists(entrymod._CRAM_SLICE_FASTA),
    reason=f"reference FASTA not present: {entrymod._CRAM_SLICE_FASTA}",
)
_QUERIES = [
    pytest.param(
        name, marks=_NEEDS_CRAM_FASTA if name == "cram_decode" else ()
    )
    for name in sorted(entrymod.queries().keys())
]


@pytest.mark.parametrize("name", _QUERIES)
def test_query_matches_oracle(spark, sf_oracle, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        n = q(spark, sf_oracle).count()  # rows-only check
        assert n >= 0
        return
    n = compare(spark, sf_oracle, q, oracles[name], name=name)
    assert n > 0, f"{name}: oracle matched but returned 0 rows"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
