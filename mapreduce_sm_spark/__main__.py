"""CLI entry point mirroring the reference binaries' argv contracts.

Reference invocations (examples/wordcount/wordcount.c:106-128,
examples/string_match/string_match.c:112-135):

    wordcount    num_threads task_size input_file  output_file
    string_match num_threads task_size search_word input_folder output_file

Here the same contracts run the Spark-first jobs:

    python -m mapreduce_sm_spark wordcount    8 65536 in.txt out.txt
    python -m mapreduce_sm_spark string_match 8 65536 data in_dir out.txt

Argument mapping onto Spark's runtime:
  num_threads -> local[num_threads] master (the reference's pthread pool)
  task_size   -> spark.sql.files.maxPartitionBytes (the reference's mmap
                 chunk size handed to each worker, mapreduce.c:167-222);
                 it sets the split size of both jobs, string_match's line
                 numbering included
  input_folder -> a file or a folder; a folder's lines are numbered
                  over its files sorted by path, then by byte offset
  output_file -> ONE formatted text file, byte-identical to the
                 reference's printf writer ("%s\t%d" / "%d:%s"). Single-file
                 output is the reference's contract; at scale drop
                 --single-file semantics and write a directory of parts.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F


def _usage() -> str:
    return (
        "Usage:\n"
        "  python -m mapreduce_sm_spark wordcount "
        "num_threads task_size input_file output_file\n"
        "  python -m mapreduce_sm_spark string_match "
        "num_threads task_size search_word input_folder output_file\n"
        "  python -m mapreduce_sm_spark list\n"
        "  python -m mapreduce_sm_spark run query_name sf_dir "
        "[output_dir]\n"
    )


def _session(num_threads: int, task_size: int):
    from mapreduce_sm_spark.session import get_spark

    return get_spark(
        "mapreduce-sm-cli",
        master=f"local[{num_threads}]",
        extra_conf={
            # the reference floors task_size at 1 byte; Spark's floor is the
            # parquet/text open cost — keep both sane
            "spark.sql.files.maxPartitionBytes": str(max(task_size, 1024)),
        },
    )


def _write_single_file(df, fmt: str, cols: list[str], out_path: str) -> None:
    """Render printf-formatted lines and land them as ONE file at out_path
    (the reference's lone FILE* contract — test-scale only)."""
    from mapreduce_sm_spark.sources.sinks import write_formatted_text

    tmp = tempfile.mkdtemp(prefix="mrsm_cli_", dir=os.path.dirname(
        os.path.abspath(out_path)) or ".")
    try:
        write_formatted_text(df, fmt, cols, tmp, single_file=True)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(out_path, "wb") as out:
            for p in parts:
                with open(p, "rb") as f:
                    shutil.copyfileobj(f, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_wordcount(num_threads: int, task_size: int, in_path: str, out_path: str) -> None:
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.plans import Pipeline, SortSpec
    from mapreduce_sm_spark.sources.readers import read_text

    spark = _session(num_threads, task_size)
    df = (
        Pipeline(lambda: read_text(spark, in_path))
        .map(lambda d: d.select(F.explode(tokenize_words("value")).alias("word")))
        .reduce(["word"], [F.count("*").alias("cnt")])
        .sort(SortSpec("cnt", ascending=False), SortSpec("word", ascending=True))
        .to_df()
    )
    _write_single_file(df, "%s\t%d", ["word", "cnt"], out_path)


def run_string_match(
    num_threads: int, task_size: int, word: str, in_path: str, out_path: str
) -> None:
    from mapreduce_sm_spark.plans import Pipeline, SortSpec
    from mapreduce_sm_spark.sources.readers import read_text

    spark = _session(num_threads, task_size)
    df = (
        Pipeline(lambda: read_text(spark, in_path, with_line_numbers=True))
        .map(
            lambda d: d.filter(
                F.contains(F.lower(F.col("value")), F.lit(word.lower()))
            )
        )
        .sort(SortSpec("line_no", ascending=True))
        .to_df()
    )
    _write_single_file(df, "%d:%s", ["line_no", "value"], out_path)


def run_list() -> None:
    """Print the registered query inventory (name<TAB>description)."""
    from mapreduce_sm_spark.registry import load_all_operators

    for name, q in load_all_operators().all().items():
        sys.stdout.write(f"{name}\t{q.description}\n")


def run_query(name: str, sf_dir: str, output_dir: str | None) -> None:
    """Run any registered query against a fixture directory. With an
    output_dir the result lands as CSV (header, one file per partition —
    the scale-safe layout); without one the first 100 rows print as TSV."""
    from mapreduce_sm_spark.registry import load_all_operators
    from mapreduce_sm_spark.session import get_spark
    from mapreduce_sm_spark.sources.sinks import write_csv

    registry = load_all_operators()
    if name not in registry.all():
        raise ValueError(f"unknown query {name!r}; see `list`")
    spark = get_spark("mapreduce-sm-cli")
    df = registry.all()[name].fn(spark, sf_dir)
    if output_dir:
        write_csv(df, output_dir)
        return
    cols = df.columns
    sys.stdout.write("\t".join(cols) + "\n")
    for row in df.limit(100).collect():  # CLI preview only — bounded
        sys.stdout.write("\t".join("" if v is None else str(v) for v in row) + "\n")


def main(argv: list[str]) -> int:
    if not argv:
        sys.stderr.write(_usage())
        return 1
    job, *rest = argv
    try:
        if job == "list":
            run_list()
        elif job == "run":
            if len(rest) not in (2, 3):
                sys.stderr.write(_usage())
                return 1
            run_query(rest[0], rest[1], rest[2] if len(rest) == 3 else None)
        elif job == "wordcount":
            if len(rest) != 4:
                sys.stderr.write(_usage())
                return 1
            run_wordcount(int(rest[0]), int(rest[1]), rest[2], rest[3])
        elif job == "string_match":
            if len(rest) != 5:
                sys.stderr.write(_usage())
                return 1
            run_string_match(int(rest[0]), int(rest[1]), rest[2], rest[3], rest[4])
        else:
            sys.stderr.write(f"unknown job {job!r}\n{_usage()}")
            return 1
    except ValueError as e:
        sys.stderr.write(f"bad argument: {e}\n{_usage()}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
