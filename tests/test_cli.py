"""CLI entry-point parity (__main__.py vs the reference argv contracts).

Reference: examples/wordcount/wordcount.c:106-128 (argv: num_threads
task_size input_file output_file, "%s\\t%d" count-desc output) and
examples/string_match/string_match.c:112-135 (argv: num_threads task_size
search_word input_folder output_file, "%d:%s" line-no-asc output).
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_INPUT = """The quick brown fox
jumps over the lazy dog
the DATA fox counts data rows
no match here
Data at line three
"""


def _run_cli(args: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "mapreduce_sm_spark", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_wordcount_cli_byte_output(tmp_path):
    inp = tmp_path / "in.txt"
    inp.write_text(_INPUT)
    out = tmp_path / "out.txt"
    res = _run_cli(["wordcount", "2", "65536", str(inp), str(out)])
    assert res.returncode == 0, res.stderr[-2000:]
    lines = out.read_text().splitlines()
    # every line is "%s\t%d" with an uppercased token
    for ln in lines:
        word, cnt = ln.split("\t")
        assert re.fullmatch(r"[A-Z][A-Z']*", word)
        int(cnt)
    # counts are non-increasing; ties break word-asc (our documented spec)
    parsed = [(int(c), w) for w, c in (ln.split("\t") for ln in lines)]
    assert parsed == sorted(parsed, key=lambda t: (-t[0], t[1]))
    counts = {w: c for c, w in parsed}
    assert counts["THE"] == 3
    assert counts["DATA"] == 3
    assert counts["FOX"] == 2


def test_string_match_cli_byte_output(tmp_path):
    inp = tmp_path / "in.txt"
    inp.write_text(_INPUT)
    out = tmp_path / "out.txt"
    res = _run_cli(["string_match", "2", "65536", "data", str(inp), str(out)])
    assert res.returncode == 0, res.stderr[-2000:]
    # exactly the two matching lines (case-insensitive), "%d:%s", asc order
    assert out.read_text() == "2:the DATA fox counts data rows\n4:Data at line three\n"


def test_cli_usage_errors():
    assert _run_cli([]).returncode == 1
    assert _run_cli(["wordcount", "1", "2"]).returncode == 1
    assert _run_cli(["unknown_job"]).returncode == 1


def test_list_prints_full_inventory():
    res = _run_cli(["list"])
    assert res.returncode == 0
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    names = {l.split("\t")[0] for l in lines}
    assert len(names) >= 120
    assert "wordcount" in names and "corpus_curation_report" in names


def test_run_query_tsv_and_csv(tmp_path):
    res = _run_cli(["run", "token_count", "/root/testdata/sf0.001"])
    assert res.returncode == 0
    lines = res.stdout.splitlines()
    assert lines and "\t" in lines[0]  # header row

    out = tmp_path / "csv_out"
    res2 = _run_cli(["run", "token_count", "/root/testdata/sf0.001", str(out)])
    assert res2.returncode == 0
    import glob as globmod

    assert globmod.glob(str(out / "*.csv")) or globmod.glob(str(out / "part-*"))


def test_run_unknown_query_fails_cleanly():
    res = _run_cli(["run", "no_such_query", "/root/testdata/sf0.001"])
    assert res.returncode == 1
    assert "unknown query" in res.stderr


def test_string_match_in_process_on_folder(spark, tmp_path):
    """string_match over an input folder: lines are numbered across the
    files in path order (the reference's argv takes an input_folder)."""
    from mapreduce_sm_spark.__main__ import run_string_match

    folder = tmp_path / "in"
    folder.mkdir()
    (folder / "b.txt").write_text("DATA in b\nnothing\n")
    (folder / "a.txt").write_text(_INPUT)
    out = tmp_path / "out.txt"
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        run_string_match(2, 65536, "data", str(folder), str(out))
    finally:
        spark.conf.set(key, old)  # _session sets it on the shared session
    assert out.read_bytes() == (
        b"2:the DATA fox counts data rows\n4:Data at line three\n5:DATA in b\n"
    )
