"""flagship_q3 revenue rounding on an exact half-cent tie.

On the perfbench fixture at scale 0.5, seed 25, order 24812's exact
revenue is 500573.2950. A double ``sum`` lands on 500573.2949999999 or
on its neighbour depending on summation order, so Spark and DuckDB
rounded it to different cents (500573.3 vs 500573.29). Both sides
sum in DECIMAL, which holds the tie exactly.
"""

from __future__ import annotations

from perfbench import fixture
from tests.oracle_check import run_all


def test_flagship_q3_half_cent_tie_matches_oracle(spark, tmp_path):
    d = str(tmp_path / "fixture")
    fixture.build(d, 0.5, 25)
    [res] = run_all(sf_dir=d, only=["flagship_q3"], spark=spark)
    assert res.ok, res.detail
