"""Interactive SQL shell — the reference's ``bin/hbase-sql`` analog
(SURVEY.md §2.A A11, upstream ``HBaseSQLCliDriver.scala``, unverified).

Starts the engine session, registers the testdata catalog, and REPLs
statements through the Astro dialect (MAPPED BY DDL / LOAD DATA INPATH
recognized; everything else delegated to Spark SQL).

    python tools/astro_shell.py [--sf /root/testdata/sf0.01] [-e "SELECT ..."]
    echo "SELECT count(*) FROM lineitem" | python tools/astro_shell.py

``-e`` executes one statement batch (semicolon-separated) and exits —
the non-interactive mode CI/scripts use. Piped input runs every
statement, including a last one without a closing ``;``.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Iterable, Iterator

sys.path.insert(0, ".")

from backup_repo_spark.session import DEFAULT_SF_DIR, get_spark, register_views
from backup_repo_spark.sources.astro_dialect import AstroDialect


def split_statements(text: str) -> list[str]:
    """Split a batch on ';' — but only OUTSIDE quoted strings, so
    ``INSERT ... VALUES ('a;b')`` stays one statement. Tracks single- and
    double-quote state; a doubled quote inside a literal ('it''s') is two
    literals back-to-back to this scanner, which still nets out closed."""
    out: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in text:
        if quote:
            if ch == quote:
                quote = None
            buf.append(ch)
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == ";":
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        out.append("".join(buf))
    return out


def statements(lines: Iterable[str]) -> Iterator[str]:
    """Buffer input lines into statements: yield each statement once a line
    ends with ';', and at end of input the unterminated tail. Stops at
    'exit' or 'quit' on a line of its own between statements."""
    buf: list[str] = []
    for line in lines:
        if not buf and line.strip().lower() in ("exit", "quit"):
            return
        buf.append(line)
        if line.rstrip().endswith(";"):
            yield from split_statements(" ".join(buf))
            buf = []
    tail = " ".join(buf)
    if tail.strip():
        yield from split_statements(tail)


def _input_lines(prompt: str) -> Iterator[str]:
    while True:
        try:
            yield input(prompt)
        except EOFError:
            return


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("-e", dest="execute", default=None, help="run statements and exit")
    ap.add_argument("--rows", type=int, default=20, help="max rows to display")
    args = ap.parse_args()

    spark = get_spark("astro-shell")
    register_views(spark, args.sf)
    dialect = AstroDialect(spark)

    def run(stmt: str) -> None:
        stmt = stmt.strip()
        if not stmt:
            return
        try:
            dialect.sql(stmt).show(args.rows, truncate=False)
        except Exception as e:  # noqa: BLE001 — shell must survive bad SQL
            print(f"ERROR: {str(e).splitlines()[0]}", file=sys.stderr)

    if args.execute is not None:
        for stmt in split_statements(args.execute):
            run(stmt)
        return 0

    interactive = sys.stdin.isatty()
    if interactive:
        print(f"astro-shell — tables registered from {args.sf}; 'exit' to quit")
    for stmt in statements(_input_lines("sql> " if interactive else "")):
        run(stmt)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
