"""Command-line client mirroring the reference's ``mr-client``.

Reference CLI (``src/bin/client.rs:24-99``):
    mr-client submit --app wc --files a.txt b.txt \\
        --output-dir out --num-reduce 5 [--args ...] --wait
    mr-client process --app wc --output-dir out

Here submit is synchronous (a Spark action already IS submit+poll)
and also prints the formatted output; the reference's two-command
workflow is reproduced exactly by the separate ``process``
subcommand, which re-reads the files a prior ``submit
--output-dir`` wrote and formats them without recomputing
(``src/client.rs:66-93``, ``src/bin/client.rs:155-162``). Run as::

    python -m map_reduce_showcase_spark.cli submit \\
        --app grep --files tests/fixtures/gutenberg/*.txt \\
        --output-dir /tmp/out --args --term Elizabeth
    python -m map_reduce_showcase_spark.cli process \\
        --app grep --output-dir /tmp/out
"""

from __future__ import annotations

import argparse
import sys

from .operators.jobs import APPS, process_job, submit_job
from .session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mrs-client")
    sub = p.add_subparsers(dest="command", required=True)
    s = sub.add_parser("submit", help="run a job and print its formatted output")
    s.add_argument("--app", required=True, choices=APPS)
    s.add_argument("--files", nargs="+", required=True)
    s.add_argument("--output-dir", default=None)
    s.add_argument("--num-reduce", type=int, default=5)  # reference default
    pr = sub.add_parser(
        "process", help="re-read a prior submit's output files and format them"
    )
    pr.add_argument("--app", required=True, choices=APPS)
    pr.add_argument("--output-dir", required=True)
    return p


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    # everything after a literal --args belongs to the app, verbatim
    # (argparse.REMAINDER would silently swallow any client flag the
    # user placed after --args — split explicitly instead)
    app_args: list[str] = []
    if "--args" in argv:
        i = argv.index("--args")
        app_args = argv[i + 1 :]
        argv = argv[:i]
    ns = build_parser().parse_args(argv)
    ns.args = app_args
    spark = get_spark(app_name=f"mrs-client-{ns.app}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if ns.command == "process":
            result = process_job(spark, app=ns.app, output_dir=ns.output_dir)
        else:
            result = submit_job(
                spark,
                app=ns.app,
                files=ns.files,
                output_dir=ns.output_dir,
                n_reduce=ns.num_reduce,
                args=ns.args,
            )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    sys.stdout.write(result.output)
    if ns.command == "submit" and result.output_dir:
        print(
            f"# wrote {result.n_output_files} files to {result.output_dir}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
