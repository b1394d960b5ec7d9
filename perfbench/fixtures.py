"""Seeded fixture generator for the benchmark's workloads.

Every value is a pure function of (seed, row id) through DuckDB's `hash`,
so one seed writes the same rows on every run. Tables keep the column
names and types of the synthetic star schema graft's queries read
(TIMESTAMP columns unzoned, keys BIGINT or INTEGER), and each fact table is
split over several files in a seeded row order: an id-hash picks the file,
another orders the rows inside it. graft receives only the parquet.

A fixture directory holds `<table>.parquet/` directories and, written last,
`manifest.json` with rows, bytes and files per table; a directory without a
manifest is incomplete and is generated again. Fixtures are cached per
(workload, seed, recipe) under .bench_work/fixtures.

Usage: python3 perfbench/fixtures.py <workload> <seed>   (prints the manifest)
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DUCKDB_TMP = os.path.join(ROOT, ".bench_work", "duckdb_tmp")  # if a query ever spills
FIXTURES = os.path.join(ROOT, ".bench_work", "fixtures")

# Bumped whenever a recipe changes, so no cached fixture of an older recipe
# is reused.
RECIPE = "r4"

# Full-size shapes. integrate is shaped like the sf0.1 tables (600k lines,
# 150k orders, 15k customers, 20k parts); ref-ops like sf0.01; curate is a
# 3000-document corpus. The oracle instance of each is ORACLE_SCALE of it.
SHAPES = {
    "integrate": dict(lineitem=600_000, orders=150_000, customer=15_000, part=20_000, files=32),
    "ref-ops": dict(lineitem=60_000, orders=15_000, customer=1_500, part=2_000, files=4),
    "curate": dict(documents=3_000, files=8),
}
ORACLE_SCALE = 0.1

# The curate corpus's stated duplicate shares, checked after generation,
# and the word 3-shingle Jaccard at which q_dedup_minhash calls a pair
# near-duplicate.
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.02
SHORT_SHARE = 0.05
NEAR_DUP_JACCARD = 0.7

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def shape(workload, scale=1.0):
    return {k: max(1 if k == "files" else 10, int(v * scale)) for k, v in SHAPES[workload].items()}


def lst(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def u(seed, salt, *cols, n):
    """A uniform integer in [0, n) from the hash of (seed, salt, cols)."""
    return f"(hash({seed}, {salt}, {', '.join(cols)}) % {n})::BIGINT"


def pick(seed, salt, col, xs):
    return f"{lst(xs)}[1 + {u(seed, salt, col, n=len(xs))}]"


def day(seed, salt, col, start, span):
    return f"(DATE '{start}' + {u(seed, salt, col, n=span)}::INTEGER)::TIMESTAMP"


def star_tables(seed, s):
    """(table, SELECT over range(n) t(id) with the id as __id, files) of the
    star schema."""
    li, orders, cust, parts = s["lineitem"], s["orders"], s["customer"], s["part"]
    qty = f"(1 + {u(seed, 45, 'id', n=50)})::DOUBLE"
    return [
        ("region", f"SELECT id AS __id, id::INTEGER AS r_regionkey, {lst(REGIONS)}[1 + id] AS r_name "
                   f"FROM range(5) t(id)", 1),
        ("nation", "SELECT id AS __id, id::INTEGER AS n_nationkey, 'NATION_' || id AS n_name, "
                   "(id % 5)::INTEGER AS n_regionkey FROM range(25) t(id)", 1),
        ("customer", f"""SELECT id AS __id, id AS c_custkey, 'Customer#' || lpad(id::VARCHAR, 9, '0') AS c_name,
            {u(seed, 11, 'id', n=25)}::INTEGER AS c_nationkey,
            ({u(seed, 12, 'id', n=1_100_000)} - 100000) / 100.0 AS c_acctbal,
            {pick(seed, 13, 'id', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
              AS c_mktsegment
            FROM range({cust}) t(id)""", 1),
        ("part", f"""SELECT id AS __id, id AS p_partkey,
            {pick(seed, 21, 'id', ['small', 'red', 'blue', 'hot', 'old', 'bright', 'green', 'cold'])}
              || ' ' || {pick(seed, 22, 'id', ['ring', 'widget', 'bolt', 'gear', 'gizmo', 'valve', 'spring', 'nut'])}
              AS p_name,
            'Brand#' || (1 + {u(seed, 23, 'id', n=25)}) AS p_brand,
            {pick(seed, 24, 'id', ['ECONOMY', 'SMALL', 'MEDIUM', 'LARGE', 'PROMO', 'STANDARD'])} AS p_type,
            (1 + {u(seed, 25, 'id', n=50)})::INTEGER AS p_size,
            900.0 + {u(seed, 26, 'id', n=20000)} / 10.0 AS p_retailprice
            FROM range({parts}) t(id)""", 1),
        ("orders", f"""SELECT id AS __id, id AS o_orderkey, {u(seed, 31, 'id', n=cust)} AS o_custkey,
            {pick(seed, 32, 'id', ['F', 'O', 'P'])} AS o_orderstatus,
            1000.0 + {u(seed, 33, 'id', n=49_900_000)} / 100.0 AS o_totalprice,
            {day(seed, 34, 'id', '1995-01-01', 2404)} AS o_orderdate,
            {pick(seed, 35, 'id', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
              AS o_orderpriority
            FROM range({orders}) t(id)""", s["files"]),
        # uniform order keys: every order is equally likely to own a line
        ("lineitem", f"""SELECT id AS __id, {u(seed, 41, 'id', n=orders)} AS l_orderkey,
            {u(seed, 42, 'id', n=parts)} AS l_partkey, {u(seed, 43, 'id', n=100)} AS l_suppkey,
            (1 + {u(seed, 44, 'id', n=7)})::INTEGER AS l_linenumber,
            {qty} AS l_quantity,
            round({qty} * (18.0 + {u(seed, 46, 'id', n=200_000)} / 100.0), 2) AS l_extendedprice,
            {u(seed, 47, 'id', n=11)} / 100.0 AS l_discount,
            {u(seed, 48, 'id', n=9)} / 100.0 AS l_tax,
            {pick(seed, 49, 'id', ['A', 'N', 'R'])} AS l_returnflag,
            {pick(seed, 50, 'id', ['F', 'O'])} AS l_linestatus,
            {day(seed, 51, 'id', '1995-01-02', 2498)} AS l_shipdate
            FROM range({li}) t(id)""", s["files"]),
    ]


def vocabulary():
    """4000 distinct pronounceable words, so unrelated documents share
    almost no word 3-shingles."""
    syll = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    return ([a + b for a in syll for b in syll][:3600] +
            [a + b + "n" for a in syll[:20] for b in syll[:20]])


def documents(seed, n):
    """The curate corpus. Ids [0, 0.83n) are originals of 40-119 words and
    [0.83n, 0.88n) originals short enough (5-19 words) to fail the quality
    gate; [0.88n, 0.90n) are exact duplicates of a random long original up
    to case and surrounding whitespace (what exact dedup normalizes away);
    [0.90n, n) near duplicates, a random long original with 1-2 words
    replaced, which keeps their word 3-shingle Jaccard with it above 0.72.
    Word choice is Zipf-like (index ~ V*u^2), so the bigram model has a head
    and a tail."""
    n_long = round(n * (1 - NEAR_DUP_SHARE - EXACT_DUP_SHARE - SHORT_SHARE))
    n_orig = round(n * (1 - NEAR_DUP_SHARE - EXACT_DUP_SHARE))
    n_exact = round(n * EXACT_DUP_SHARE)
    v = len(vocabulary())

    def word(salt, src):
        r = f"(hash({seed}, {salt}, {src}, pos) % 1000000007) / 1000000007.0"
        return f"vocab[1 + floor({v} * {r} * {r})::INTEGER]"

    return f"""
      WITH d AS (
        SELECT id, CASE WHEN id < {n_long} THEN 0 WHEN id < {n_orig} THEN 3
                        WHEN id < {n_orig + n_exact} THEN 1 ELSE 2 END AS role
        FROM range({n}) t(id)),
      b AS (
        SELECT id, role, CASE WHEN role IN (0, 3) THEN id ELSE {u(seed, 61, 'id', n=n_long)} END AS base
        FROM d),
      l AS (
        SELECT id, role, base,
          (CASE WHEN role = 3 THEN 5 + {u(seed, 63, 'id', n=15)}
                ELSE 40 + {u(seed, 64, 'base', n=80)} END)::INTEGER AS nw,
          (1 + {u(seed, 65, 'id', n=2)})::INTEGER AS ne
        FROM b),
      t AS (
        SELECT id, role, base, array_to_string(list_transform(range(1, nw + 1), pos ->
          CASE WHEN role = 2 AND list_contains(
                 list_transform(range(1, ne + 1), e -> 1 + (hash({seed}, 66, id, e) % nw)::INTEGER), pos)
               THEN {word(67, 'id')} ELSE {word(68, 'base')} END), ' ') AS text
        FROM l, vocab_t)
      SELECT id AS doc_id,
        CASE WHEN role = 1 THEN '  ' || upper(text) || ' ' ELSE text END AS text,
        {pick(seed, 69, 'id', ['en'] * 16 + ['fr', 'fr', 'de', 'es'])} AS lang,
        'src' || {u(seed, 70, 'id', n=8)} AS source,
        length(CASE WHEN role = 1 THEN '  ' || upper(text) || ' ' ELSE text END)::BIGINT AS n_chars,
        role AS __role, base AS __base
      FROM t"""


SHINGLES = """CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] ELSE list_distinct(
  [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] for i in generate_series(1, len(t) - 2)]) END"""


def check_shares(con, n):
    """Measures the corpus's duplicate shares and fails generation when they
    stray from the stated ones: the exact share from distinct normalized
    texts, the near share from planted near duplicates whose word 3-shingle
    Jaccard with their original reaches the dedup threshold (the same
    shingling as q_dedup_minhash's oracle)."""
    distinct = con.execute("SELECT count(DISTINCT lower(trim(text))) FROM docs").fetchone()[0]
    near = con.execute(f"""
      WITH s AS (SELECT doc_id, __role, __base, {SHINGLES} AS sh
                 FROM (SELECT doc_id, __role, __base,
                              list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
                       FROM docs))
      SELECT count(*) FROM s a JOIN s b ON a.__role = 2 AND b.__role = 0 AND a.__base = b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= {NEAR_DUP_JACCARD}""").fetchone()[0]
    exact_share, near_share = (n - distinct) / n, near / n
    if abs(exact_share - EXACT_DUP_SHARE) > 0.005:
        raise ValueError(f"exact-duplicate share {exact_share:.4f} strays from the stated {EXACT_DUP_SHARE}")
    if abs(near_share - NEAR_DUP_SHARE) > 0.01:
        raise ValueError(f"near-duplicate share {near_share:.4f} strays from the stated {NEAR_DUP_SHARE}")
    return {"exact_dup_share": exact_share, "near_dup_share": near_share}


def write_table(con, out, table, select, files, seed):
    d = os.path.join(out, f"{table}.parquet")
    os.makedirs(d)
    con.execute(f"CREATE OR REPLACE TEMP TABLE g AS SELECT *, hash({seed}, 98, __id) % {files} AS __file, "
                f"hash({seed}, 99, __id) AS __order FROM ({select})")
    cols = [c for (c,) in con.execute("SELECT column_name FROM (DESCRIBE g)").fetchall()
            if not c.startswith("__")]
    for k in range(files):
        con.execute(f"COPY (SELECT {', '.join(cols)} FROM g WHERE __file = {k} ORDER BY __order) "
                    f"TO '{d}/part-{k:05d}.parquet' (FORMAT parquet)")
    rows = con.execute("SELECT count(*) FROM g").fetchone()[0]
    sizes = [os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)]
    return {"rows": rows, "bytes": sum(sizes), "files": len(sizes)}


def generate(workload, seed, scale, out):
    s = shape(workload, scale)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{DUCKDB_TMP}'")
    tables, checks = {}, {}
    if workload == "curate":
        con.execute(f"CREATE TEMP TABLE vocab_t AS SELECT {lst(vocabulary())} AS vocab")
        con.execute(f"CREATE TEMP TABLE docs AS {documents(seed, s['documents'])}")
        checks = check_shares(con, s["documents"])
        tables["documents"] = write_table(
            con, out, "documents", "SELECT doc_id AS __id, * EXCLUDE (__role, __base) FROM docs",
            s["files"], seed)
    else:
        for t, select, files in star_tables(seed, s):
            tables[t] = write_table(con, out, t, select, files, seed)
    con.close()
    return {"workload": workload, "seed": seed, "recipe": RECIPE, "scale": scale, "tables": tables,
            "input_rows": sum(t["rows"] for t in tables.values()), "checks": checks}


def ensure(workload, seed, scale=1.0):
    """Returns (directory, manifest) of a complete cached fixture instance,
    generating it first when absent."""
    name = f"{workload}{'' if scale == 1.0 else '-oracle'}-s{seed}-{RECIPE}"
    out = os.path.join(FIXTURES, name)
    m = os.path.join(out, "manifest.json")
    if not os.path.exists(m):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        manifest = generate(workload, seed, scale, out)
        with open(m, "w") as f:
            json.dump(manifest, f)
    with open(m) as f:
        return out, json.load(f)


if __name__ == "__main__":
    print(json.dumps(ensure(sys.argv[1], int(sys.argv[2]))[1], indent=1))
