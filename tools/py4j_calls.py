"""Count the py4j round trips it takes to BUILD a query's DataFrame.

Every Column expression, DataFrame method and schema lookup made while a
query function runs is one py4j command from the Python driver to the
JVM. This tool wraps py4j's client-server ``send_command`` in its own
process and prints, per query, the commands one build sends: ``first``
is the first build in the process, ``warm`` a second build of the same
query (Python-side caches filled). Nothing is executed; only the build
is counted.

Usage:
    python tools/py4j_calls.py [--sf-dir DIR] NAME [NAME ...]

DIR defaults to $SPARK_GRAFT_SF_DIR (the bench.py convention).
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


@contextlib.contextmanager
def commands_sent():
    """Count the py4j commands the driver sends inside the block (memory
    releases excluded); yields a callable returning the count so far."""
    from py4j import clientserver
    from py4j import protocol

    send = clientserver.ClientServerConnection.send_command
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    sent = [0]

    def counted(self, command):
        if not command.startswith(release):
            sent[0] += 1
        return send(self, command)

    clientserver.ClientServerConnection.send_command = counted
    try:
        yield lambda: sent[0]
    finally:
        clientserver.ClientServerConnection.send_command = send


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    from dataflowjavasdk_spark.queries import all_queries
    from dataflowjavasdk_spark.session import get_spark

    spark = get_spark(app_name="py4j-calls")
    qs = all_queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        ap.error(f"unknown queries: {', '.join(missing)}")
    print(f"{'query':<32} {'first':>7} {'warm':>7}")
    total = [0, 0]
    for name in args.names:
        counts = []
        for _ in range(2):
            with commands_sent() as sent:
                qs[name](spark, args.sf_dir)
            counts.append(sent())
        total = [t + c for t, c in zip(total, counts)]
        print(f"{name:<32} {counts[0]:>7} {counts[1]:>7}", flush=True)
    print(f"{'total':<32} {total[0]:>7} {total[1]:>7}")


if __name__ == "__main__":
    main()
