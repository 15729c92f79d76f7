"""DuckDB answer check for the DW benchmark.

Recomputes the star and the KPIs with the program's own oracle SQL
(`graft.oracle.OracleSql`: the star CTE and each KPI's query, which the
JVM half copies into its result file) over the same generated inputs,
and compares:

- every KPI answer the run served, against the oracle for the source
  version its dimension held at that moment (kpi8_pruned against the
  oracle kpi8's rows for its year);
- the final DW: the fact holds exactly the oracle's rows, decimals
  compared exactly (so 0 rows were dropped by the null-key prune), and
  each dimension equals the oracle's and has surrogate keys unique and
  contiguous from 1.

The star is materialized once per source version and each KPI query's
tail runs over it, which is the oracle query with its CTE computed once.
"""
import os
from decimal import Decimal

import duckdb

SRC_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]
DIMS = {"dim_produto": "sk_produto", "dim_cliente": "sk_cliente",
        "dim_vendedor": "sk_vendedor", "dim_localidade": "sk_localidade",
        "dim_tempo": "sk_tempo"}
FACT_COLS = ("id_pedido, numero_linha, sk_produto, sk_cliente, sk_vendedor, "
             "sk_localidade, sk_tempo, qtd_vendida, valor_bruto, "
             "valor_desconto, valor_total")


def _scan(path):
    """A parquet table as `graft.Tables` lays it out: file or directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet')"
    return f"read_parquet('{path}')"


class Oracle:
    def __init__(self, src, src_b, oracle_sql, threads, tmp_dir):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.cte = oracle_sql["star_cte"]
        self.kpis = oracle_sql["kpis"]
        self._cache = {}
        # version B changes only the dimension sources; the fact sources
        # are shared
        for ver, d in (("a", src), ("b", src_b)):
            self.con.execute(f"CREATE SCHEMA src_{ver}")
            for t in SRC_TABLES:
                base = d if t in ("region", "nation", "customer", "supplier",
                                  "part") else src
                self.con.execute(f"CREATE VIEW src_{ver}.{t} AS SELECT * FROM "
                                 f"{_scan(f'{base}/{t}.parquet')}")
            self.con.execute(f"CREATE SCHEMA star_{ver}")
            self.con.execute(f"SET search_path='src_{ver}'")
            for t in list(DIMS) + ["fato"]:
                if ver == "b" and t == "fato":
                    # same business keys, so the same surrogate keys
                    self.con.execute(
                        "CREATE VIEW star_b.fato AS SELECT * FROM star_a.fato")
                    continue
                self.con.execute(f"CREATE TABLE star_{ver}.{t} AS "
                                 f"WITH {self.cte}\nSELECT * FROM {t}")

    def kpi(self, query, version):
        """Oracle answer (column names, rows) of one KPI for a version."""
        key = (query, version)
        if key not in self._cache:
            sql = self.kpis[query]
            prefix = f"WITH {self.cte}\n"
            if sql.startswith(prefix):
                self.con.execute(f"SET search_path='star_{version.lower()}'")
                sql = sql[len(prefix):]
            else:
                self.con.execute(f"SET search_path='src_{version.lower()}'")
            cur = self.con.execute(sql)
            cols = [c[0] for c in cur.description]
            self._cache[key] = (cols, cur.fetchall())
        return self._cache[key]

    def check_answer(self, ans):
        """None when the served answer equals the oracle's, else why not."""
        q, ver = ans["query"], ans["version"]
        if q == "kpi8_pruned":
            cols, rows = self.kpi("kpi8", "A")
            ano = cols.index("ano")
            rows = [r for r in rows if r[ano] == ans["year"]]
        else:
            cols, rows = self.kpi(q, ver)
        got_cols = ans["cols"]
        if sorted(got_cols) != sorted(cols):
            return f"{q}: columns {got_cols} != {cols}"
        if len(ans["rows"]) != len(rows):
            return f"{q}/{ver}: {len(ans['rows'])} rows != {len(rows)}"
        order = [got_cols.index(c) for c in cols]
        for i, (g, w) in enumerate(zip(ans["rows"], rows)):
            g = [g[j] for j in order]
            for c, gv, wv in zip(cols, g, w):
                if not _same(gv, wv):
                    return f"{q}/{ver} row {i} {c}: {gv!r} != {wv!r}"
        return None

    def check_dw(self, dw, versions, lineitem_rows):
        """Failures of the final DW against the oracle star."""
        bad = []
        c = self.con
        c.execute("SET search_path='main'")
        fact = (f"SELECT {FACT_COLS} FROM read_parquet("
                f"'{dw}/fato_vendas/**/*.parquet', hive_partitioning=1)")
        n = c.execute(f"SELECT count(*) FROM ({fact})").fetchone()[0]
        if n != lineitem_rows:
            bad.append(f"fato_vendas: {n} rows, lineitem has {lineitem_rows}")
        for a, b in ((fact, f"SELECT {FACT_COLS} FROM star_a.fato"),
                     (f"SELECT {FACT_COLS} FROM star_a.fato", fact)):
            extra = c.execute(
                f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            if extra:
                bad.append(f"fato_vendas: {extra} rows differ from the oracle")
        for dim, sk in DIMS.items():
            got = f"SELECT * FROM read_parquet('{dw}/{dim}/*.parquet')"
            lo, hi, cnt, dist = c.execute(
                f"SELECT min({sk}), max({sk}), count(*), count(DISTINCT {sk}) "
                f"FROM ({got})").fetchone()
            if dim != "dim_tempo" and not (lo == 1 and hi == cnt == dist):
                bad.append(f"{dim}: sk not unique and contiguous from 1 "
                           f"(min {lo}, max {hi}, rows {cnt}, distinct {dist})")
            want = f"SELECT * FROM star_{versions[dim].lower()}.{dim}"
            cols = ", ".join(d[0] for d in c.execute(want + " LIMIT 0").description)
            for x, y in ((got, want), (want, got)):
                extra = c.execute(f"SELECT count(*) FROM (SELECT {cols} FROM ({x}) "
                                  f"EXCEPT ALL SELECT {cols} FROM ({y}))").fetchone()[0]
                if extra:
                    bad.append(f"{dim}: {extra} rows differ from the oracle")
        return bad


def _same(got, want):
    """Exact equality across the JSON / DuckDB representations."""
    if want is None or got is None:
        return want is None and got is None
    if isinstance(want, Decimal):
        return Decimal(str(got)) == want
    if isinstance(want, float):
        return isinstance(got, (int, float)) and float(got) == want
    if isinstance(want, int):
        return isinstance(got, int) and got == want
    return str(got) == str(want)
