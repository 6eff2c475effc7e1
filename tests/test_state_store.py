"""The versioned state store (kiez_spark/state.py) on tiny frames, with no
job run: what a killed write leaves is never read, a compaction hides the
deltas it folded, assignment reads are latest-version-wins, and a failed
params.json write leaves the previous file. Plus the jobs' one mode rule:
the three state modes are mutually exclusive, checked before Spark."""

import importlib
import json
import os

import pytest

from kiez_spark import state

SCHEMA = "id bigint, component bigint"


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "component").collect())


def _read(spark, state_dir, table="assign"):
    ver, base = state.read_version(state_dir)
    _, deltas = state.read(spark, state_dir, ver, base)
    return deltas(table)


def test_unflipped_delta_is_never_read(spark, tmp_path):
    """A delta at VERSION+1 whose VERSION flip never happened (a killed
    increment, or a killed compaction's snapshot) stays invisible."""
    s = str(tmp_path / "s")
    state.write_delta(s, 1, {"assign": _frame(spark, [(1, 1), (2, 1)])}, {})
    state.write_delta(s, 2, {"assign": _frame(spark, [(3, 3)])}, {})
    # killed increment: ver=3 data landed, VERSION still says 2
    _frame(spark, [(9, 9)]).write.parquet(os.path.join(s, "assign", "ver=3"))
    assert state.read_version(s) == (2, 1)
    assert _rows(_read(spark, s)) == [(1, 1), (2, 1), (3, 3)]
    # killed compaction: the ver=3 snapshot of ver 1..2 landed, no flip —
    # the folded deltas are read once, never beside their snapshot
    _frame(spark, [(1, 1), (2, 1), (3, 3)]).write.mode("overwrite").parquet(
        os.path.join(s, "assign", "ver=3")
    )
    assert _rows(_read(spark, s)) == [(1, 1), (2, 1), (3, 3)]


def test_compact_reads_only_the_snapshot(spark, tmp_path, capsys):
    s = str(tmp_path / "s")
    state.write_delta(s, 1, {"assign": _frame(spark, [(1, 1), (2, 2)])}, {})
    state.write_delta(s, 2, {"assign": _frame(spark, [(2, 1)])}, {})
    # a snapshot that differs from the deltas' union shows which one a
    # read sees: the deltas would give 3 rows, the snapshot has 2
    snap = _frame(spark, [(1, 1), (2, 1)])
    assert state.compact(spark, s, lambda *_: (
        {"assign": snap}, ("rows", "assign")
    )) == 0
    assert json.loads(capsys.readouterr().out) == {
        "mode": "compact", "state_version": 3, "base": 3,
        "folded_versions": 2, "rows": 2,
    }
    assert state.read_version(s) == (3, 3)
    assert _rows(_read(spark, s)) == [(1, 1), (2, 1)]
    # a later increment reads the snapshot plus its own delta only
    state.write_delta(s, 4, {"assign": _frame(spark, [(5, 5)])}, {}, base=3)
    assert state.read_version(s) == (4, 3)
    assert _rows(_read(spark, s)) == [(1, 1), (2, 1), (5, 5)]


def test_latest_wins_keeps_highest_version_row(spark, tmp_path):
    s = str(tmp_path / "s")
    rows = [(1, 1), (2, 2), (3, 3)]
    state.write_delta(s, 1, {"assign": _frame(spark, rows)}, {})
    state.write_delta(s, 2, {"assign": _frame(spark, [(2, 1), (3, 2)])}, {})
    state.write_delta(s, 3, {"assign": _frame(spark, [(3, 1)])}, {})
    latest = state.latest_wins(_read(spark, s), "id")
    assert latest.columns == ["id", "component"]
    assert _rows(latest) == [(1, 1), (2, 1), (3, 1)]


def test_failed_params_write_keeps_previous_file(spark, tmp_path, monkeypatch):
    s = str(tmp_path / "s")
    df = _frame(spark, [(1, 1)])
    state.write_delta(s, 1, {"assign": df}, {"max_dist": 12.0})

    def dump_then_die(obj, fh):
        fh.write('{"max_dist": 8')
        raise OSError("disk full")

    # a base re-run (ver == base) rewrites params.json; it dies mid-dump
    monkeypatch.setattr(json, "dump", dump_then_die)
    with pytest.raises(OSError):
        state.write_delta(s, 1, {"assign": df}, {"max_dist": 8.0})
    monkeypatch.undo()
    with open(os.path.join(s, "params.json")) as fh:
        assert json.load(fh) == {"max_dist": 12.0}
    assert sorted(os.listdir(s)) == ["VERSION", "assign", "params.json"]


@pytest.mark.parametrize("job", ["run_er", "run_linkage", "run_curation"])
def test_state_modes_are_exclusive(job, tmp_path, capsys):
    main = importlib.import_module(f"jobs.{job}").main
    with pytest.raises(SystemExit) as e:
        main(["--increment", "--compact-state", "--state-dir", str(tmp_path),
              "--output", str(tmp_path / "o")])
    assert e.value.code == 2
    assert "not allowed with" in capsys.readouterr().err
    with pytest.raises(SystemExit) as e:
        main(["--stream-input", str(tmp_path), "--output", str(tmp_path / "o")])
    assert e.value.code == 2
    assert "--stream-input requires --state-dir" in capsys.readouterr().err
