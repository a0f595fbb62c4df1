"""tools/sweep.py, the round-close oracle sweep harness, without Spark.

The full-registry rows run in tools/round_gates.sh. These tests pin
what makes the rows a gate: a failing op or a misspelled name exits
non-zero, every mutation keeps the source tables' shape and changes
some cell, and round_gates.sh runs every row, the plan audit, the
sf0.001 oracle sweep and the whole slow tier.
"""

from __future__ import annotations

import os
import re
import subprocess

import pyarrow.parquet as pq
import pytest

from tests.conftest import _REPO, SF_SMALL
from tests.oracle_check import OracleResult
from tools import sweep


def _stub_run(monkeypatch, results):
    """Replace the oracle run and the vanilla session; return the list
    of run_all calls."""
    calls = []

    def fake_run_all(**kw):
        calls.append(kw)
        return results

    monkeypatch.setattr(sweep, "run_all", fake_run_all)
    monkeypatch.setitem(sweep.CONFIGS, "vanilla", lambda: None)
    return calls


@pytest.mark.parametrize("ok, code", [(True, 0), (False, 1)])
def test_exit_code_follows_results(monkeypatch, capsys, ok, code):
    _stub_run(monkeypatch, [OracleResult("flagship_q3", 1, 1, True, ok, ok)])
    with pytest.raises(SystemExit) as exc:
        sweep.main(["vanilla", "flagship_q3"])
    assert exc.value.code == code
    assert f"vanilla SUMMARY: {int(ok)}/1 OK" in capsys.readouterr().out


def test_unknown_op_is_rejected(monkeypatch):
    calls = _stub_run(monkeypatch, [])
    with pytest.raises(SystemExit) as exc:
        sweep.main(["vanilla", "flagship_q3", "typo_op"])
    assert "typo_op" in str(exc.value.code)
    assert "flagship_q3" not in str(exc.value.code)
    assert calls == []


def test_unknown_row_is_rejected(monkeypatch):
    calls = _stub_run(monkeypatch, [])
    with pytest.raises(SystemExit) as exc:
        sweep.main(["typo_row", "flagship_q3"])
    assert "typo_row" in str(exc.value.code)
    assert calls == []


def test_mutations_keep_shape_and_change_cells(tmp_path):
    """Each row keeps every table's schema and row count, the nulls and
    numeric rows keep their key columns, and every row changes at
    least one cell."""
    for name in sweep.MUTATIONS:
        dst = sweep.build(name, str(tmp_path / name))
        changed = False
        for f in sorted(os.listdir(SF_SMALL)):
            if not f.endswith(".parquet"):
                continue
            src = pq.read_table(f"{SF_SMALL}/{f}")
            out = pq.read_table(f"{dst}/{f}")
            assert out.schema.equals(src.schema), (name, f)
            assert out.num_rows == src.num_rows, (name, f)
            if name in ("nulls", "numeric"):
                for k in sweep.KEYCOLS & set(src.column_names):
                    assert out.column(k).equals(src.column(k)), (name, f, k)
            changed = changed or not out.equals(src)
        assert changed, name


def test_round_gates_runs_every_row():
    """round_gates.sh runs every sweep row, the fleet plan audit, a
    strict oracle stage at SF_SMALL, and the whole slow tier: pytest over
    tests/ with no file list, so a new slow test joins the gate."""
    with open(os.path.join(_REPO, "tools", "round_gates.sh")) as fh:
        script = fh.read().replace("\\\n", " ")
    loop = re.search(r"^for row in (.*); do$", script, re.M)
    rows = loop.group(1).split()
    assert len(rows) == len(set(rows))
    assert set(rows) == set(sweep.MUTATIONS) | {"vanilla"}
    assert re.search(r"^python tools/plan_audit\.py ", script, re.M)
    assign = re.search(r"^SF_SMALL=.*$", script, re.M).group(0)
    sf = subprocess.run(["bash", "-c", f'{assign}; echo "$SF_SMALL"'],
                        cwd=_REPO, capture_output=True, text=True,
                        check=True).stdout.strip()
    assert sf == SF_SMALL
    assert re.search(r'^SPARK_GRAFT_SF_DIR="\$SF_SMALL" +'
                     r"python tests/oracle_check\.py ", script, re.M)
    pytests = re.findall(r"^python -m pytest (.*)$", script, re.M)
    assert len(pytests) == 1
    args = pytests[0].split("|")[0].split()
    assert args[0] == "tests/" and "-m slow" in " ".join(args)
    assert not [a for a in args if a.endswith(".py")], args
