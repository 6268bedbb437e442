#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Loads each query's parquet output from the Verify dump, runs the matching
oracle SQL in DuckDB against the same scale-factor tables, sorts columns by
name, canonicalizes values, and compares row multisets.

Every oracle query runs under a wall limit of LIMIT_S seconds. The
oracles run in a worker process, and a query that outruns the limit
kills the worker: DuckDB does not honor `interrupt()` while it plans, and
an oracle whose CTEs inline into thousands of joins (g_mis_t3) never
leaves planning. Such a gate prints `TIMEOUT <gate>` and is counted apart
from failures; `ALL PASS` needs zero of both, and either makes the exit
code nonzero.

Usage: parity_check.py <sfDir> <verifyOutDir>
"""
import glob, hashlib, json, multiprocessing, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# wall seconds per oracle query
LIMIT_S = 120


def connect(sfdir):
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con


def oracle_worker(pipe, sfdir):
    """Runs each SQL text received on `pipe`; answers (columns, rows) or
    the error text. Returns on None."""
    con = connect(sfdir)
    while True:
        sql = pipe.recv()
        if sql is None:
            return
        try:
            rel = con.sql(sql)
            pipe.send(("ok", rel.columns, rel.fetchall()))
        except Exception as e:
            pipe.send(("err", str(e), None))


class Oracle:
    """The worker process; restarted after a query outruns the limit."""

    def __init__(self, sfdir):
        self.sfdir = sfdir
        self.ctx = multiprocessing.get_context("spawn")
        self.start()

    def start(self):
        self.pipe, child = self.ctx.Pipe()
        self.proc = self.ctx.Process(target=oracle_worker,
                                     args=(child, self.sfdir), daemon=True)
        self.proc.start()

    def run(self, sql):
        """("ok", columns, rows), ("err", message, None), or None on timeout."""
        self.pipe.send(sql)
        if self.pipe.poll(LIMIT_S):
            return self.pipe.recv()
        self.proc.kill()
        self.proc.join()
        self.start()
        return None

    def close(self):
        self.pipe.send(None)
        self.proc.join()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(out).encode()).hexdigest()[:16]
    return sorted(cols), len(out), h, out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = connect(sfdir)
    oracle_sql = json.load(open(f"{outdir}/oracle_sql.json"))
    oracle = Oracle(sfdir)

    fails = timeouts = 0
    for name in sorted(oracle_sql):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"MISS  {name}: no spark output")
            fails += 1
            continue
        got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        gcols, grows = got.columns, got.fetchall()
        want = oracle.run(oracle_sql[name])
        if want is None:
            print(f"TIMEOUT {name}: oracle ran over {LIMIT_S} s")
            timeouts += 1
            continue
        status, wcols, wrows = want
        if status == "err":
            print(f"SQLERR {name}: {wcols}")
            fails += 1
            continue
        gc, gn, gh, gout = rowset(gcols, grows)
        wc, wn, wh, wout = rowset(wcols, wrows)
        if gc != wc:
            print(f"SCHEMA {name}: spark={gc} oracle={wc}")
            fails += 1
        elif gh != wh:
            print(f"HASH  {name}: rows {gn} vs {wn}")
            gs, ws = set(gout), set(wout)
            for d in sorted(gs - ws)[:3]:
                print(f"   spark-only: {d}")
            for d in sorted(ws - gs)[:3]:
                print(f"   oracle-only: {d}")
            fails += 1
        else:
            print(f"OK    {name}: {gn} rows")
    oracle.close()
    if fails == 0 and timeouts == 0:
        print("\nALL PASS")
    else:
        print(f"\n{fails} FAILURES, {timeouts} TIMEOUTS")
    sys.exit(1 if fails or timeouts else 0)


if __name__ == "__main__":
    main()
