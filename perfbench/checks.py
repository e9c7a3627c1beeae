"""Input generation and output checks, run in a separate harness process.

The benchmark process holds only the Spark session and the rows each
operation collected. Making the inputs and running the DuckDB oracles
happens in one worker process (`Harness`), so the harness's memory and CPU
never count as the program's (`peak_rss_mb` reads the benchmark process and
the driver JVM only). Rows are compared under the catalog oracle harness
rules (tests/oracle_harness.py: order-insensitive, sorted by column name,
floats rounded to 6 decimals and compared with tolerance).

Functions below `Harness` run in the worker; the benchmark process imports
this module without loading DuckDB."""

from __future__ import annotations

import os
import pickle
import resource
import subprocess
import sys
import traceback

Rows = tuple[list[str], list[tuple]]  # column names, rows as plain tuples


class Harness:
    """One worker process for the whole run, started with `subprocess` and
    not `multiprocessing`: the benchmark process runs the py4j gateway's
    threads, and a multiprocessing pool would leave its resource tracker
    running after the benchmark exits. Each call is pickled to the worker's
    stdin and its reply read back from the worker's stdout."""

    def __init__(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.checks"],
            cwd=root,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )

    def call(self, fn, *args, **kwargs):
        pickle.dump((fn, args, kwargs), self._proc.stdin)
        self._proc.stdin.flush()
        ok, value = pickle.load(self._proc.stdout)
        if not ok:
            raise RuntimeError(f"harness call {fn.__name__} failed:\n{value}")
        return value

    def close(self) -> None:
        """End the worker (it exits on EOF) and wait for it."""
        self._proc.stdin.close()
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


def _serve() -> None:
    """The worker's loop: run each pickled call and pickle back (True,
    result) or (False, traceback text), until stdin closes."""
    requests, replies = sys.stdin.buffer, sys.stdout.buffer
    sys.stdout = sys.stderr  # a print in harness code must not reach the pipe
    while True:
        try:
            fn, args, kwargs = pickle.load(requests)
        except EOFError:
            return
        try:
            reply = (True, fn(*args, **kwargs))
        except BaseException:
            reply = (False, traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()


def collected(df) -> tuple[list[str], list]:
    """A DataFrame's column names and its collected rows: the action a
    timed operation ends with."""
    return df.columns, df.collect()


def plain(result: tuple[list[str], list]) -> Rows:
    """Collected rows as plain tuples, ready to send to the harness."""
    columns, rows = result
    return columns, [tuple(r) for r in rows]


# --- in the harness worker -----------------------------------------------


def write_sri_csv(path: str, n: int, seed: int, n_codes: int) -> int:
    """Write the seeded SRI CSV and return its size in bytes."""
    from tests.sri_fixture import write_sri_csv as write

    write(path, n=n, seed=seed, n_codes=n_codes)
    return os.path.getsize(path)


def catalog_expected(sqls: dict[str, str], sf_dir: str) -> dict[str, Rows]:
    """Each catalog query's oracle result, normalized as the harness reads
    it."""
    from tests.oracle_harness import run_oracle

    out = {}
    for name, sql in sqls.items():
        df = run_oracle(sql, sf_dir)
        recs = df.where(df.notna(), None)
        out[name] = _normalized(list(df.columns), [tuple(r) for r in recs.itertuples(index=False)])
    return out


def agree(pairs: list[tuple[Rows, Rows]]) -> list[bool]:
    """For each (collected, expected normalized) pair: do they match?"""
    return [_same(_normalized(*got), want) for got, want in pairs]


def star_agree(
    star_dir: str, tables: tuple[str, ...], statements: dict[str, str], reads: list[tuple[str, Rows]]
) -> list[bool]:
    """Run each statement in DuckDB over the written parquet star (the fact
    table is hive-partitioned by Anio, as write_star lays it out) and
    compare each (statement name, collected rows) read with it."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(star_dir, t, "**", "*.parquet")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{path}', hive_partitioning = true)"
            )
        want = {}
        for name, sql in statements.items():
            cur = con.execute(sql)
            want[name] = _normalized([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    return agree([(got, want[name]) for name, got in reads])


def peak_rss_mb() -> float:
    """This process's peak resident memory."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _normalized(columns: list[str], rows: list[tuple]) -> Rows:
    """Rows as sorted tuples of normalized values, columns in name order."""
    from tests.oracle_harness import _norm

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    return cols, sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _same(got: Rows, want: Rows) -> bool:
    from tests.oracle_harness import _rows_close

    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols or len(grows) != len(wrows):
        return False
    return all(_rows_close(g, w) for g, w in zip(grows, wrows))


if __name__ == "__main__":
    _serve()
