"""Registry-runner contract guards (no Spark session needed).

A renamed query must not silently vanish from BENCH_r{N}.json and read
as a coverage regression only a human diff would catch (exactly the
q_dedup_clusters_lsh -> q_dedup_clusters rename hazard from round 4):
these tests make a stale bench name a loud failure, and bench.py fails
on an unregistered name at run time too. The rest pin the fresh-JVM
child protocol that bench.py and scripts/sweep.py share.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

import bench
from data_lake_with_spark_and_aws_s3_spark import REGISTRY
from scripts import sweep


def test_headline_names_resolve():
    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench HEADLINE names not in REGISTRY: {missing}"


def test_extended_family_names_resolve():
    missing = [
        (fam, n)
        for fam, names in bench.EXTENDED_FAMILIES.items()
        for n in names
        if n not in REGISTRY
    ]
    assert not missing, f"bench EXTENDED names not in REGISTRY: {missing}"


def test_no_duplicate_bench_entries():
    names = bench.HEADLINE + bench.EXTENDED
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"query benched twice (double-counted wall): {dupes}"


def test_protocol_covers_both_phases():
    assert set(bench._PROTOCOL) == {"headline", "extended"}
    for warmups, timed in bench._PROTOCOL.values():
        assert warmups >= 1 and timed >= 1 and timed % 2 == 1, (
            "timed runs must be odd so the median is a real sample"
        )


def test_unregistered_name_fails_bench():
    proc = subprocess.run(
        [sys.executable, bench.__file__, "q_no_such_query"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    assert "q_no_such_query" in proc.stderr


def test_run_child_returns_last_json_line_or_raises_with_stderr_tail():
    ok = "print('noise'); print('{\"a\": 1}')"
    assert bench.run_child([sys.executable, "-c", ok], "child") == {"a": 1}
    dead = "import sys; print('{}'); sys.stderr.write('boom\\n'); sys.exit(3)"
    with pytest.raises(bench.ChildError, match="child exited 3") as exc:
        bench.run_child([sys.executable, "-c", dead], "child")
    assert exc.value.returncode == 3 and exc.value.tail == "boom"
    with pytest.raises(bench.ChildError, match="no JSON result"):
        bench.run_child([sys.executable, "-c", "print('not json')"], "child")


def test_sweep_chunks_cover_registry_once():
    names = sorted(REGISTRY)
    covered = [n for start, end in sweep.chunks(len(names)) for n in names[start:end]]
    assert covered == names


def test_sweep_reports_crashed_chunk_and_keeps_the_rest(monkeypatch, capsys):
    names = sorted(REGISTRY)
    dead_start, dead_end = sweep.chunks(len(names))[1]

    def fake_run_child(argv, label):
        start, end = int(argv[-4]), int(argv[-3])
        if start == dead_start:
            raise bench.ChildError(label, 137, "exited 137", "java.lang.OutOfMemoryError")
        return {n: ["rows-only", "0" * 32, 0.1] for n in names[start:end]}

    monkeypatch.setattr(sweep, "run_child", fake_run_child)
    monkeypatch.setattr(sys, "argv", ["sweep.py", "/no/such/sf"])
    with pytest.raises(SystemExit) as exc:
        sweep.main()
    assert exc.value.code == 1
    out, err = capsys.readouterr()
    assert "OutOfMemoryError" in err
    rows = {line.split()[0]: line for line in out.splitlines()[:-1]}
    assert list(rows) == names
    for i, name in enumerate(names):
        crashed = "CRASHED: exit 137" in rows[name]
        assert crashed == (dead_start <= i < dead_end), rows[name]
