#!/usr/bin/env python3
"""Execute the SQL the graft dialects GENERATE against a live engine.

`graft.sources.jdbc.DialectDump` renders DDL for the full type breadth,
every upsert mode, limit/offset composition, and the unparser's WHERE
clauses; this script runs the duckdb/postgres dialect output in an
in-memory DuckDB and the sqlite dialect output in REAL sqlite3 (python
stdlib), and checks SEMANTICS, not just acceptance: conflict modes must
leave the table in the state the writer assumes, offsets must skip,
LIKE escapes must not wildcard, EXTRACT/MOD/CAST must select exactly
the expected rows. The reference validates its dialects against live
Docker databases the same way (core/tests/docker/mod.rs:53-100).
Running sqlite SQL in actual sqlite (not DuckDB acceptance-mode) is
what caught the typed-literal bug: `DATE '…'` is a parse error there.

Usage: python3 scripts/dialect_live_check.py [dump.json]
       (no arg: runs sbt runMain graft.sources.jdbc.DialectDump itself)
"""
import datetime
import json
import sqlite3
import subprocess
import sys

import duckdb

if len(sys.argv) > 1:
    dump = json.load(open(sys.argv[1]))
else:
    out = subprocess.run(
        ["sbt", "runMain graft.sources.jdbc.DialectDump"],
        capture_output=True, text=True, cwd="/root/repo").stdout
    line = next(l for l in out.splitlines() if l.startswith("[info] {"))
    dump = json.loads(line[len("[info] "):])

# seed rows: k 1..8 — b, i, d, dec, s, dt, ts, bin derived
def row(k):
    return (
        k, k % 2 == 0, k % 4, k / 2.0, round(k * 1.11, 2), f"v_{k}",
        datetime.date(1994 + (k % 3), 1 + k % 12, 1 + k % 27),
        datetime.datetime(1994 + (k % 3), 1 + k % 12, 1 + k % 27, 12, 0, 0),
        bytes([k % 256, (255 - k) % 256]), [k, k * 3])

SEED = [row(k) for k in range(1, 9)]

# expected WHERE-sample counts, computed over SEED in python
def year(d): return d.year
EXPECT = {
    "eq_long": sum(1 for r in SEED if r[0] == 5),
    "in_int": sum(1 for r in SEED if r[2] in (1, 3)),
    "like_escaped": sum(1 for r in SEED if "x%y" in r[5]),
    "starts_with": sum(1 for r in SEED if r[5].startswith("v_")),
    "mod_routed": sum(1 for r in SEED if r[0] % 3 == 1),
    "extract_year": sum(1 for r in SEED if year(r[6]) == 1995),
    "cast_double_gt": sum(1 for r in SEED if float(r[4]) > 3.5),
    "arith_case": sum(1 for r in SEED if r[0] + 1 > 5),
    "upper_concat": sum(1 for r in SEED if (r[5] + "!").upper() == "V_2!"),
    "substring": sum(1 for r in SEED if r[5][0:2] == "v_"),
    "coalesce_abs": sum(1 for r in SEED if abs(r[0] - 9) == 1),
    "date_literal": sum(1 for r in SEED if r[6] >= datetime.date(1995, 1, 1)),
    "ts_literal": sum(1 for r in SEED if r[7] < datetime.datetime(1996, 1, 1)),
    # NULLIF(i, 3) IS NOT DISTINCT FROM NULL -> true exactly where i == 3
    "nullsafe_eq": sum(1 for r in SEED if r[2] == 3),
}

fails = 0

# ---------------------------------------------------------------------------
# Live PostgreSQL (when the host has server binaries): the postgres
# dialect's generated SQL runs against a REAL postgres instead of the
# DuckDB acceptance proxy — the reference validates its pg connector
# against live Docker postgres the same way (core/tests/postgres/
# mod.rs:204-289). No python pg driver exists here, so statements go
# through psql with literals inlined; SELECTs come back as json_agg.
import atexit
import os
import shutil

PG_DIR, PG_PORT = "/tmp/graft_pg_live", "55432"
# initdb's superuser is the OS user that runs it: the dedicated pguser
# when we're root (postgres refuses to run as root), else whoever we are
import getpass
PG_ROLE = "pguser" if os.geteuid() == 0 else getpass.getuser()


def _pg_run(cmd):
    # server processes must not run as root; shell out through `su`
    if os.geteuid() == 0:
        subprocess.run(["useradd", "-m", "pguser"], capture_output=True)
        return subprocess.run(["su", "pguser", "-c", cmd],
                              capture_output=True, text=True, cwd="/tmp")
    return subprocess.run(cmd, shell=True, capture_output=True, text=True, cwd="/tmp")


def pg_server_start():
    if not shutil.which("pg_ctl") or not shutil.which("psql"):
        return False
    if not os.path.exists(PG_DIR):
        if _pg_run(f"initdb -D {PG_DIR} -A trust").returncode != 0:
            return False
    if _pg_run(f"pg_ctl -D {PG_DIR} status").returncode != 0:
        r = _pg_run(f"pg_ctl -D {PG_DIR} -l {PG_DIR}.log "
                    f"-o '-p {PG_PORT} -k /tmp' -w start")
        if r.returncode != 0:
            return False
        # a server this run started stops when it exits, however it
        # exits; one that was already running is left as it was
        atexit.register(_pg_run, f"pg_ctl -D {PG_DIR} -m fast -w stop")
    return True


def pg_literal(v):
    if v is None: return "NULL"
    if isinstance(v, bool): return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)): return repr(v)
    if isinstance(v, str): return "'" + v.replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
    if isinstance(v, datetime.date): return "DATE '" + v.isoformat() + "'"
    if isinstance(v, bytes): return "'\\x" + v.hex() + "'::bytea"
    if isinstance(v, (list, tuple)):
        return "ARRAY[" + ",".join(pg_literal(x) for x in v) + "]"
    raise TypeError(f"no pg literal for {type(v)}")


class PgConn:
    """duckdb-connection-shaped adapter over psql (execute/fetchall/close)."""

    def _psql(self, sql):
        r = subprocess.run(
            ["psql", "-h", "/tmp", "-p", PG_PORT, "-U", PG_ROLE,
             "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-t", "-A", "-c", sql],
            capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError(f"psql: {r.stderr.strip()[:500]} for: {sql[:200]}")
        return r.stdout

    def execute(self, sql, params=None):
        if params is not None:
            parts = sql.split("?")
            assert len(parts) == len(list(params)) + 1, sql
            sql = parts[0] + "".join(
                pg_literal(p) + rest for p, rest in zip(params, parts[1:]))
        if sql.lstrip().upper().startswith("SELECT"):
            out = self._psql("SELECT COALESCE(json_agg(row_to_json(_q)), "
                             f"'[]'::json) FROM ({sql}) _q")
            self._rows = [tuple(d.values()) for d in json.loads(out.strip())]
        else:
            self._psql(sql)
            self._rows = []
        return self

    def fetchall(self):
        return self._rows

    def close(self):
        pass


def check(label, cond, detail=""):
    global fails
    if cond:
        print(f"OK   {label}")
    else:
        fails += 1
        print(f"FAIL {label}: {detail}")


def sqlite_row(r):
    # sqlite stores dates/timestamps as TEXT (ISO-8601), booleans and
    # decimals through INTEGER/REAL affinity — bind what the writer's
    # setters would send over that wire.
    base = (r[0], int(r[1]), r[2], r[3], float(r[4]), r[5],
            r[6].isoformat(), r[7].strftime("%Y-%m-%d %H:%M:%S"), r[8])
    return base + ((json.dumps(r[9]),) if len(r) > 9 else ())


pg_live = pg_server_start()
print(("OK   postgres: live server on port " + PG_PORT) if pg_live
      else "NOTE postgres: no live server available, falling back to DuckDB")

for dialect in ["duckdb", "postgres", "sqlite"]:
    d = dump[dialect]
    # duckdb runs in live DuckDB; sqlite in REAL sqlite3; postgres in a
    # REAL postgres when server binaries exist (DuckDB acceptance proxy
    # otherwise) — full WHERE/conflict/offset semantics on all three.
    if dialect == "sqlite":
        con = sqlite3.connect(":memory:")
        seed_rows = [sqlite_row(r) for r in SEED]
        bind = sqlite_row
    elif dialect == "postgres" and pg_live:
        con = PgConn()
        con.execute(f'DROP TABLE IF EXISTS {dump[dialect]["table"]}')
        seed_rows = SEED
        bind = lambda r: r
    else:
        con = duckdb.connect()
        seed_rows = SEED
        bind = lambda r: r
    try:
        con.execute(d["create"])
        for r in seed_rows:
            con.execute(d["insert"], list(r))

        def state():
            return {r[0]: r for r in con.execute(
                f'SELECT * FROM {d["table"]} ORDER BY 1').fetchall()}

        # WHERE-clause semantics over the PRISTINE seed (before mutations)
        for label, sql in d["where"].items():
            if sql is None:
                check(f"{dialect}: where[{label}] rendered", False,
                      "unparser returned None")
                continue
            got = con.execute(sql).fetchall()[0][0]
            check(f"{dialect}: where[{label}] == {EXPECT[label]}",
                  got == EXPECT[label], f"got {got}: {sql}")

        # streaming watermark probe (rate-capped max): first 3 keys > 2
        # of the pristine seed 1..8 are 3,4,5 -> probe returns 5
        if d.get("stream_probe"):
            got = con.execute(d["stream_probe"]).fetchall()[0][0]
            check(f"{dialect}: streaming capped watermark probe == 5",
                  got == 5, f"got {got}: {d['stream_probe']}")

        # sorted-derived-table (federation rule's Sort arm): the
        # parenthesized ORDER BY must survive the enclosing SELECT with
        # the EXACT row order — seed i=k%4 with NULLIF(i,3) nulls at
        # k=3,7: DESC NULLS LAST then k ASC -> 2,6,1,5,4,8,3,7
        if d.get("sorted_derived"):
            got = [int(r[1]) for r in con.execute(d["sorted_derived"]).fetchall()]
            check(f"{dialect}: sorted derived table preserves ORDER BY",
                  got == [2, 6, 1, 5, 4, 8, 3, 7],
                  f"got {got}: {d['sorted_derived']}")

        # window-collapse SQL (federation rule's Window arm): executed on
        # the pristine seed k=1..8 with i = k%4 — groups {4,8},{1,5},
        # {2,6},{3,7}. rownum orders k DESC within group; runsum is the
        # ROWS-framed running sum ASC; lead(k,1) is the next k or NULL.
        if d.get("window"):
            w = d["window"]
            exp = {
                "rownum": [(k, 1 if k >= 5 else 2) for k in range(1, 9)],
                "runsum": [(k, k if k <= 4 else 2 * k - 4) for k in range(1, 9)],
                "lead": [(k, k + 4 if k <= 4 else None) for k in range(1, 9)],
            }
            for label, want in exp.items():
                if w.get(label) is None:
                    check(f"{dialect}: window[{label}] rendered", False,
                          "unparser returned None")
                    continue
                got = [(r[0], None if r[1] is None else int(r[1]))
                       for r in con.execute(w[label]).fetchall()]
                check(f"{dialect}: window[{label}] semantics",
                      got == want, f"got {got}: {w[label]}")

        # bag-semantics set-ops (SetOpAllRule's rendered shape) over the
        # pristine seed: i = k%4, so a = [1,2,3,0,1,2,3,0] and the k<=6
        # branch b = [1,2,3,0,1,2]. INTERSECT ALL = min-counts = 6 rows
        # (DISTINCT would be 4); EXCEPT ALL = count difference = 2 rows
        # (DISTINCT would be 0) — the counts PROVE bag semantics ran.
        so = d.get("setop_all")
        if so:
            got = con.execute(so["intersect_all"]).fetchall()[0][0]
            check(f"{dialect}: INTERSECT ALL bag count == 6 (not DISTINCT's 4)",
                  got == 6, f"got {got}: {so['intersect_all']}")
            got = con.execute(so["except_all"]).fetchall()[0][0]
            check(f"{dialect}: EXCEPT ALL bag count == 2 (not DISTINCT's 0)",
                  got == 2, f"got {got}: {so['except_all']}")
        elif dialect == "sqlite":
            # capability negative on the LIVE engine: sqlite's compound
            # SELECT has no ALL variants — supportsSetOpAll=false
            # matches engine reality, not just documentation
            try:
                con.execute(f'SELECT "i" FROM {d["table"]} INTERSECT ALL '
                            f'SELECT "i" FROM {d["table"]}')
                check("sqlite: INTERSECT ALL rejected (gate matches engine)",
                      False, "statement was accepted")
            except Exception:
                check("sqlite: INTERSECT ALL rejected (gate matches engine)",
                      True)
        else:
            check(f"{dialect}: setop_all missing for a supporting dialect",
                  False, "dump has no setop_all")

        # native-array (duckdb/postgres) or JSON-TEXT (sqlite) round-trip
        st0 = state()
        want = [5, 15] if dialect != "sqlite" else json.dumps([5, 15])
        check(f"{dialect}: array column round-trips", st0[5][9] == want,
              repr(st0[5][9]))

        # conflict update: same keys, shifted payload -> payload replaced
        shifted = [
            (r[0], not r[1], r[2] + 10, r[3], r[4], r[5] + "_u", r[6], r[7], r[8])
            for r in SEED[:4]]
        for r in shifted:
            con.execute(d["upsert_update"], list(bind(r)))
        st = state()
        check(f"{dialect}: upsert update replaces payload",
              all(st[r[0]][5] == r[5] and st[r[0]][2] == r[2] for r in shifted)
              and len(st) == len(SEED), str(st.get(1)))

        # conflict do-nothing: clobbering payloads must NOT land; new key inserts
        for r in [(r[0], r[1], r[2], r[3], r[4], "CLOB", r[6], r[7], r[8])
                  for r in SEED[:2]] + [row(100)[:9]]:
            con.execute(d["upsert_nothing"], list(bind(r)))
        st = state()
        check(f"{dialect}: upsert do_nothing preserves + inserts new",
              st[1][5] != "CLOB" and st[2][5] != "CLOB" and 100 in st, str(st.get(1)))

        # target-less do-nothing (PK constraint decides)
        con.execute(d["upsert_all"], list(bind((1, True, 0, 0.0, 0.0, "CLOB2",
                                                SEED[0][6], SEED[0][7], b""))))
        con.execute(d["upsert_all"], list(bind(row(101)[:9])))
        st = state()
        check(f"{dialect}: upsert do_nothing_all skips conflicts",
              st[1][5] != "CLOB2" and 101 in st, str(st.get(1)))

        # topn + offset: k DESC skip 2 take 3 over k in {1..8,100,101}
        got = [r[0] for r in con.execute(d["topn"]).fetchall()]
        check(f"{dialect}: ORDER BY + offset/fetch composition",
              got == [8, 7, 6], str(got))

        if d.get("analyze"):
            con.execute(d["analyze"]) if dialect == "duckdb" else None
            if dialect == "duckdb":
                check(f"{dialect}: ANALYZE accepted", True)
    except Exception as e:
        check(f"{dialect}: execution", False, repr(e))
    finally:
        con.close()

# multi-database ATTACH: run the generated attach statements on a real
# third connection and federate a join across main + two attached FILES
# (reference semantics: crates/duckdb/src/conn.rs — READ_ONLY ATTACH +
# search_path so unqualified names resolve; sqlite resolves by attach
# order natively). The last dump element is the federation context key —
# it must differ from the bare url so the planner never collapses a join
# between differently-attached connections.
import os
for eng in ["duckdb", "sqlite"]:
    stmts = dump.get(f"attach_{eng}")
    if not stmts:
        check(f"attach[{eng}]: statements emitted", False, "missing from dump")
        continue
    ctx, stmts = stmts[-1], stmts[:-1]
    paths = {n: f"/tmp/graft_dlc_{n}.{eng}" for n in ["main", "sales", "ref"]}
    for p in paths.values():
        if os.path.exists(p): os.remove(p)
    try:
        opener = duckdb.connect if eng == "duckdb" else sqlite3.connect
        # seed three separate database files, each with its own table
        for n, p in paths.items():
            c = opener(p)
            c.execute(f"CREATE TABLE t_{n} (k INTEGER, v TEXT)")
            for k in range(1, 4):
                c.execute(f"INSERT INTO t_{n} VALUES ({k}, '{n}_{k}')")
            c.commit() if eng == "sqlite" else None
            c.close()
        con = opener(paths["main"])
        for s in stmts:
            con.execute(s)
        # unqualified names resolve across the attach set...
        got = con.execute(
            "SELECT count(*) FROM t_main JOIN t_sales ON t_main.k = t_sales.k "
            "JOIN t_ref ON t_main.k = t_ref.k").fetchone()[0]
        check(f"attach[{eng}]: 3-file federated join, unqualified", got == 3, got)
        # ...and qualified attachment names work too
        got = con.execute(
            'SELECT count(*) FROM "sales".t_sales s JOIN "graft_att1".t_ref r '
            "ON s.k = r.k").fetchone()[0]
        check(f"attach[{eng}]: qualified attachment names", got == 3, got)
        if eng == "duckdb":
            # the reference attaches READ_ONLY; a write must be rejected
            try:
                con.execute("INSERT INTO \"sales\".t_sales VALUES (9, 'x')")
                check(f"attach[{eng}]: attachments are read-only", False,
                      "write to attached db succeeded")
            except Exception:
                check(f"attach[{eng}]: attachments are read-only", True)
        con.close()
        check(f"attach[{eng}]: context key carries attach set",
              "attach=" in ctx and "sales=" in ctx, ctx)
    except Exception as e:
        check(f"attach[{eng}]: execution", False, repr(e))

# pg composite / enum / range text forms: TypeMapping's parsers
# (TypeBreadthSpec) consume exactly these literals — assert a REAL
# postgres produces them, so the Scala parse rules can't drift from the
# engine's output syntax (reference composite.rs reads the same wire
# values).
if pg_live:
    try:
        pc = PgConn()
        pc.execute("DROP TYPE IF EXISTS dlc_addr CASCADE")
        pc.execute("DROP TYPE IF EXISTS dlc_mood CASCADE")
        pc.execute("CREATE TYPE dlc_addr AS "
                   "(street TEXT, zip INT, ok BOOLEAN, score FLOAT8)")
        pc.execute("CREATE TYPE dlc_mood AS ENUM ('happy', 'sad')")
        got = pc.execute(
            "SELECT ROW('42 Elm St', 94110, true, 1.5)::dlc_addr::text AS a, "
            "ROW('a, \"b\" c', NULL, false, 0)::dlc_addr::text AS b, "
            "ROW('', 1, true, 2)::dlc_addr::text AS c, "
            "'happy'::dlc_mood::text AS m, "
            "'[1,10)'::int4range::text AS r1, "
            "'(,5]'::numrange::text AS r2, "  # int ranges canonicalize to [..,..+1)
            "'empty'::int4range::text AS r3, "
            "tsrange('2020-01-15 10:00:00','2020-02-01')::text AS r4, "
            "point(1.5,2.5)::text AS pt, "
            "tstzrange('2020-01-15 10:00:00+00','2020-02-01 00:00:00+00')::text AS r5"
        ).fetchall()[0]
        check("pg types: composite text form", got[0] == '("42 Elm St",94110,t,1.5)', got[0])
        check("pg types: composite quoting/null", got[1] == '("a, ""b"" c",,f,0)', got[1])
        check("pg types: composite empty string", got[2] == '("",1,t,2)', got[2])
        check("pg types: enum is its label", got[3] == "happy", got[3])
        check("pg types: int4range form", got[4] == "[1,10)", got[4])
        check("pg types: unbounded range form", got[5] == "(,5]", got[5])
        check("pg types: empty range form", got[6] == "empty", got[6])
        check("pg types: tsrange quoted bounds",
              got[7] == '["2020-01-15 10:00:00","2020-02-01 00:00:00")', got[7])
        check("pg types: point composite form", got[8] == "(1.5,2.5)", got[8])
        # server TZ defaults vary; pin only the shape the Scala parser
        # must handle — quoted bounds with a trailing UTC-offset suffix
        import re as _re
        check("pg types: tstzrange bounds carry an offset suffix",
              bool(_re.match(r'^\["[^"]+[+-]\d{2}(:\d{2})?",', got[9])), got[9])
    except Exception as e:
        check("pg types: execution", False, repr(e))

# session-settings registry: the rendered SET statements must be accepted
# by a live engine and observably change its configuration
con = duckdb.connect()
try:
    for stmt in dump.get("settings", []):
        con.execute(stmt)
    mem = con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
    check("settings: memory_limit applied", "Gi" in mem or "GB" in mem, mem)
    tmp = con.execute("SELECT current_setting('temp_directory')").fetchone()[0]
    check("settings: temp_directory applied", tmp == "/tmp/graft_dlc_tmp", tmp)
    pio = con.execute("SELECT current_setting('preserve_insertion_order')").fetchone()[0]
    check("settings: preserve_insertion_order applied", pio is False or pio == "false", repr(pio))
except Exception as e:
    check("settings: execution", False, repr(e))
finally:
    con.close()

print(("PASS" if fails == 0 else "FAIL") + f" dialect live check ({fails} failures)")
sys.exit(1 if fails else 0)
