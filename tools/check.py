#!/usr/bin/env python3
"""The DuckDB-oracle compare of a Verify dump.

Usage:
  python3 tools/check.py <sfDir> <verifyOutDir>
  python3 tools/check.py <sfDir> <verifyOutDir> --timeout SEC [--tmp DIR]

Reads <verifyOutDir>/<name>/ (Spark parquet), <verifyOutDir>/oracle_sql.json
and, when Verify wrote one, <verifyOutDir>/failures.json (the entries that
threw). Each dumped entry with an oracle runs it in DuckDB over views of
<sfDir>/<table>.parquet and compares schema (sorted column names), row count
and a value hash over rows sorted by all columns (above DIGEST_ROWS dumped
rows, a multiset digest computed inside DuckDB); a dumped entry without an
oracle gets a rows>0 check. Every entry prints one line that starts with two
spaces; an oracle key with neither a dump nor a recorded failure (a
restricted dump) prints a `-- name: not dumped` line and does not fail.
Exits 1 if any entry failed, including every recorded Verify failure.

With --timeout each entry runs in its own process, killed after SEC
seconds, with its oracle's top-level CTEs staged as tables in a
file-backed database under --tmp and DuckDB capped to half the memory and
90% of the free disk there, so one quadratic oracle cannot stall,
exhaust memory or fill the disk for the whole sweep.
"""
import argparse, glob, hashlib, json, multiprocessing, os, re, shutil, sys
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Above this many dumped rows an entry is compared by digest_problems inside
# DuckDB instead of by the sorted-row hash. The row hash materializes
# every row of both sides as Python tuples plus their sorted canonical
# strings: about 1 KB per row of 5-7 columns (st_route_deviation_alerts,
# 98,515 rows, took 100 MB over the interpreter's own 150 MB). 5M rows is
# then about 5 GB, which leaves a 16 GB box room for DuckDB beside it.
# The largest sf0.1 result is 100,000 rows, so the gate surface keeps the
# row hash.
DIGEST_ROWS = 5_000_000


def connect(sf_dir, work=None):
    """A DuckDB connection with one view per table of <sfDir> (a single
    parquet file or a Spark directory of part files). With `work` the
    database is a file there, spills go beside it, and DuckDB may use half
    the memory (the rest is for the row hash's Python rows) and 90% of the
    disk that is free there."""
    if work is None:
        con = duckdb.connect()
    else:
        os.makedirs(work, exist_ok=True)
        con = duckdb.connect(os.path.join(work, "oracle.db"))
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        con.execute(f"SET memory_limit='{ram // 2 // 2**20}MB'")
        con.execute(f"SET temp_directory='{work}/spill'")
        free = shutil.disk_usage(work).free
        con.execute(f"SET max_temp_directory_size='{free * 9 // 10 // 2**20}MB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def split_ctes(sql):
    """Split a `WITH a AS (...), b AS (...) SELECT ...` into its
    top-level CTEs and the final statement, paren- and string-aware.
    For WITH RECURSIVE, the maximal flat PREFIX of CTEs is staged and
    the tail (from the first self-referencing CTE on) is re-wrapped as
    an inline WITH RECURSIVE over the staged tables. Returns
    (ctes, final) or None when nothing is stageable."""
    s = sql.strip()
    m = re.match(r"(?is)^WITH\s+(RECURSIVE\s+)?", s)
    if not m:
        return None
    recursive = bool(m.group(1))
    i, n, ctes = m.end(), len(s), []
    while True:
        m2 = re.match(
            r"(?is)\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*"
            r"(?:NOT\s+MATERIALIZED\s*|MATERIALIZED\s*)?\(", s[i:])
        if not m2:
            return None
        name, j = m2.group(1), i + m2.end()
        depth, k = 1, j
        while depth > 0 and k < n:
            c = s[k]
            if c == "'":
                k += 1
                while k < n:
                    if s[k] == "'":
                        if k + 1 < n and s[k + 1] == "'":
                            k += 2; continue
                        break
                    k += 1
            elif c == '"':
                # double-quoted identifier: opaque ("" escapes a quote)
                k += 1
                while k < n:
                    if s[k] == '"':
                        if k + 1 < n and s[k + 1] == '"':
                            k += 2; continue
                        break
                    k += 1
            elif c == "-" and k + 1 < n and s[k + 1] == "-":
                # -- line comment: skip to end of line (an apostrophe or
                # unbalanced paren inside it must not affect the scan)
                while k < n and s[k] != "\n":
                    k += 1
                continue
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        if depth != 0:
            return None
        body = s[j:k - 1]
        # a CTE shadowing a base table breaks sequential table
        # semantics (its own body would read the table, not the view);
        # self-reference is impossible in a non-RECURSIVE WITH
        if name in TABLES:
            return None
        ctes.append((name, body))
        m3 = re.match(r"\s*,", s[k:])
        if m3:
            i = k + m3.end(); continue
        final = s[k:].strip()
        break
    if not recursive:
        return ctes, final
    # RECURSIVE: stage the flat prefix; keep everything from the first
    # genuinely self-referencing CTE onward inline (FROM/JOIN self-ref
    # is how recursion appears; column-name collisions are harmless
    # false positives that only shorten the staged prefix)
    cut = len(ctes)
    names = [nm for nm, _ in ctes]
    for idx, (nm, bd) in enumerate(ctes):
        # cut at self-reference OR at a forward reference to a CTE
        # defined later in the list (mutual recursion is legal under
        # WITH RECURSIVE; staging such a prefix would CREATE TABLE
        # against a not-yet-existing name)
        later = names[idx:]
        if any(re.search(rf"(?is)\b(from|join)\s+{ln}\b", bd)
               for ln in later):
            cut = idx; break
    if cut == 0:
        return None
    staged, tail = ctes[:cut], ctes[cut:]
    if tail:
        final = ("WITH RECURSIVE " +
                 ", ".join(f"{nm} AS ({bd})" for nm, bd in tail) +
                 " " + final)
    return staged, final


def stage(con, sql):
    """Materialize each top-level CTE of the oracle as a table, one after
    the other, so DuckDB holds one stage's pipeline at a time instead of
    the whole CTE DAG; in a file-backed database each stage is
    checkpointed to disk. Returns the statement left to run."""
    plan = split_ctes(sql)
    if plan is None:
        return sql
    ctes, final = plan
    for name, body in ctes:
        con.execute(f'CREATE OR REPLACE TABLE "{name}" AS {body}')
        con.execute("CHECKPOINT")
    return final


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    canon_rows = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode("utf-8", "surrogateescape"))
        h.update(b"\x02")
    return h.hexdigest()


def rowhash_problems(con, sql, qdir):
    """Schema, row count and sorted-row hash, with up to three differing
    row pairs shown on a hash mismatch."""
    st = pq.read_table(glob.glob(f"{qdir}/*.parquet"))
    s_names = st.column_names
    s_rows = list(zip(*(st.column(c).to_pylist() for c in s_names)))
    res = con.execute(sql)
    d_names = [c[0] for c in res.description]
    d_rows = res.fetchall()
    if sorted(s_names) != sorted(d_names):
        return [f"schema spark={sorted(s_names)} duck={sorted(d_names)}"]
    if len(s_rows) != len(d_rows):
        return [f"rows spark={len(s_rows)} duck={len(d_rows)}"]
    if table_hash(s_names, s_rows) == table_hash(d_names, d_rows):
        return []
    problems = ["hash mismatch"]
    order_s = sorted(range(len(s_names)), key=lambda i: s_names[i])
    order_d = sorted(range(len(d_names)), key=lambda i: d_names[i])
    rs = sorted(tuple(r[i] for i in order_s) for r in s_rows)
    rd = sorted(tuple(r[i] for i in order_d) for r in d_rows)
    diffs = [(a, b) for a, b in zip(rs, rd)
             if tuple(map(canon, a)) != tuple(map(canon, b))]
    for a, b in diffs[:3]:
        problems += [f"    spark={a}", f"    duck ={b}"]
    return problems


def digest_problems(con, sql, qdir):
    """Schema, row count and an order-insensitive multiset digest --
    sum(hash(...)) of every row's name-sorted columns cast to text --
    computed inside DuckDB on both sides, so no row reaches Python. It
    proves the same bag of rows the sorted-row hash proves, short of a
    collision of two different bags on both count and 64-bit hash sum."""
    duck = con.sql(sql.strip().rstrip(";"))
    spark = con.sql(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
    d_types, s_types = (dict(zip(r.columns, map(str, r.types)))
                        for r in (duck, spark))
    if sorted(s_types) != sorted(d_types):
        return [f"schema spark={sorted(s_types)} duck={sorted(d_types)}"]
    digest = ("SELECT count(*), sum(hash(" + ", ".join(
        f'CAST("{c}" AS VARCHAR)' for c in sorted(d_types)) + ")) FROM t")
    (d_n, d_h), (s_n, s_h) = (r.query("t", digest).fetchone()
                              for r in (duck, spark))
    if s_n != d_n:
        return [f"rows spark={s_n} duck={d_n}"]
    if s_h == d_h:
        return []
    # a DECIMAL-vs-DOUBLE column renders differently as text: name the
    # first type divergence, the likely cause of a digest mismatch
    typed = [f'; type of "{c}" spark={s_types[c]} duck={d_types[c]}'
             for c in sorted(d_types) if s_types[c] != d_types[c]]
    return [f"digest spark={s_h} duck={d_h}" + "".join(typed[:1])]


def compare(con, out_dir, name, sql, staged=False):
    """Compare one dumped entry, print its line and return its kind:
    'oracle' or 'rows' when it passed, 'fail' when it did not."""
    qdir = f"{out_dir}/{name}"
    files = glob.glob(f"{qdir}/*.parquet")
    if not files:
        print(f"  {name}: NO OUTPUT")
        return "fail"
    n = sum(pq.read_metadata(f).num_rows for f in files)
    if sql is None:
        print(f"  {name}: rows-only {'OK' if n else 'EMPTY'} ({n} rows)")
        return "rows" if n else "fail"
    digest = n > DIGEST_ROWS
    try:
        problems = (digest_problems if digest else rowhash_problems)(
            con, stage(con, sql) if staged else sql, qdir)
    except Exception as e:
        print(f"  {name}: ORACLE SQL ERROR: {e}")
        return "fail"
    if not problems:
        print(f"  {name}: OK ({n} rows{', digest' if digest else ''})")
        return "oracle"
    print(f"  {name}: FAIL {problems[0]}")
    for p in problems[1:]:
        print(p)
    return "fail"


def _compare_isolated(send, sf_dir, out_dir, name, sql, work):
    send.send(compare(connect(sf_dir, work), out_dir, name, sql, staged=True))


def isolated(sf_dir, out_dir, name, sql, timeout, tmp):
    """compare() in a fresh process with a wall timeout. Its database and
    spills live in a dedicated directory under `tmp` that is removed
    before and after, so a killed compare leaves no stale WAL or spill
    behind and `tmp` itself may be a shared location."""
    work = os.path.join(tmp, "check_entry")
    shutil.rmtree(work, ignore_errors=True)
    ctx = multiprocessing.get_context("spawn")
    recv, send = ctx.Pipe(duplex=False)
    p = ctx.Process(target=_compare_isolated,
                    args=(send, sf_dir, out_dir, name, sql, work))
    p.start()
    p.join(timeout)
    if p.is_alive():
        p.kill(); p.join()
        print(f"  {name}: TIMEOUT after {timeout:g}s")
        kind = "fail"
    elif recv.poll():
        kind = recv.recv()
    else:
        print(f"  {name}: FAIL (compare process died, exit code {p.exitcode})")
        kind = "fail"
    shutil.rmtree(work, ignore_errors=True)
    return kind


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--timeout", type=float,
                    help="compare each entry in its own process, killed after SEC seconds")
    ap.add_argument("--tmp", default="target/duck_tmp",
                    help="with --timeout: where the database and spills go")
    a = ap.parse_args()
    sys.stdout.reconfigure(line_buffering=True)
    oracles = json.load(open(f"{a.out_dir}/oracle_sql.json"))
    failures_json = f"{a.out_dir}/failures.json"
    thrown = json.load(open(failures_json)) if os.path.exists(failures_json) else {}
    dumped = {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{a.out_dir}/*/")}
    con = None if a.timeout else connect(a.sf_dir)
    counts = dict.fromkeys(["fail", "oracle", "rows", "not dumped"], 0)
    for name in sorted(dumped | oracles.keys() | thrown.keys()):
        if name in thrown:
            print(f"  {name}: FAIL (Verify: {' '.join(thrown[name].split())})")
            kind = "fail"
        elif name not in dumped:
            print(f"-- {name}: not dumped")
            kind = "not dumped"
        elif a.timeout:
            kind = isolated(a.sf_dir, a.out_dir, name, oracles.get(name),
                            a.timeout, a.tmp)
        else:
            kind = compare(con, a.out_dir, name, oracles.get(name))
        counts[kind] += 1
    print(f"== {counts['fail']} failures; {counts['oracle']} oracle-compared, "
          f"{counts['rows']} rows-only, {counts['not dumped']} not dumped ==")
    sys.exit(1 if counts["fail"] else 0)


if __name__ == "__main__":
    main()
