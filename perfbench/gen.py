"""Seeded input generator for the benchmark.

Writes the ten tables the declared queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types and value
distributions of the engine's star-schema fixture.

The shape is fixed and the seed only moves values: row counts, the
near-duplicate share of `documents`, the key ranges and the key skew are
the same for every seed. Every value is drawn from a generator keyed by
(seed, table), so the same seed gives byte-identical files.

The analyst's three warehouse tables (carrefour_data, mp_data,
bank_payments) are derived from them with DuckDB and written partitioned
by month, also byte-identical for a seed.

    python3 gen.py <out_dir> <seed> [scale]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# scale 1.0 = 60k lineitem rows, the fixture's "sf0.01" size
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
NEAR_DUP_SHARE = 0.10  # share of documents that are edited copies of another
EMBED_DIM = 64
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["cold", "small", "large", "hot", "red", "old", "blue", "new"]
NOUN = ["widget", "bolt", "plate", "ring", "rod", "gizmo", "gear", "anvil"]
WORDS = ("value hash batch sort data big filter dup row the query stream key agg "
         "scan slow table part a merge window order column join vector fast "
         "spark line small customer group").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLE_IDS = {t: i for i, t in enumerate(
    "region nation customer supplier part orders lineitem events documents embeddings".split())}

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rows(table, scale):
    return max(1, int(round(BASE_ROWS[table] * scale)))


def rng_for(seed, table):
    return np.random.default_rng([seed, TABLE_IDS[table]])


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)].tolist(),
                    type=pa.string())


def gen_tables(seed, scale):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = rows("customer", scale); r = rng_for(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n)),
        "c_mktsegment": pick(r, SEGMENTS, n)})

    n = rows("supplier", scale); r = rng_for(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n))})

    n_part = rows("part", scale); r = rng_for(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (keys % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(r, P_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(retail)})

    n_ord = rows("orders", scale); r = rng_for(seed, "orders")
    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    order_day = r.integers(0, span_days + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, rows("customer", scale), n_ord, dtype=np.int64)),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": ts(EPOCH_1995 + order_day * US_PER_DAY),
        "o_orderpriority": pick(r, PRIORITIES, n_ord)})

    n = rows("lineitem", scale); r = rng_for(seed, "lineitem")
    qty = r.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, rows("supplier", scale), n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["O", "F"], n),
        "l_shipdate": ts(EPOCH_1995 + (r.integers(1, span_days + 95, n)) * US_PER_DAY)})

    n = rows("events", scale); r = rng_for(seed, "events")
    # ascending event time over January 2024, like an append-only log
    offs = np.sort(r.integers(0, 30 * US_PER_DAY, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts(EPOCH_2024 + offs),
        "user_id": pa.array(r.integers(0, 150, n, dtype=np.int64)),
        "event_type": pick(r, EVENT_TYPES, n),
        "value": pa.array(money(r, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string())})

    n = rows("documents", scale); r = rng_for(seed, "documents")
    words = np.asarray(WORDS, dtype=object)
    texts = []
    n_dup = int(round(n * NEAR_DUP_SHARE))
    dup_at = set(r.choice(np.arange(1, n), n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            # near-duplicate: an earlier document with one or two words replaced
            toks = texts[int(r.integers(0, i))].split(" ")
            for _ in range(int(r.integers(1, 3))):
                toks[int(r.integers(0, len(toks)))] = str(words[r.integers(0, len(words))])
        else:
            toks = words[r.integers(0, len(words), int(r.integers(10, 100)))].tolist()
        texts.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pick(r, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})

    n = rows("embeddings", scale); r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n, dtype=np.int32)
    centers = r.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] * 0.5 + r.normal(0, 1, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels)})
    return t


CATEG = """CASE CAST(l.l_linenumber % 7 AS INTEGER)
  WHEN 0 THEN 'Almacen' WHEN 1 THEN 'Bebidas' WHEN 2 THEN 'Carniceria'
  WHEN 3 THEN 'Frutas Y Verduras' WHEN 4 THEN 'Limpieza'
  WHEN 5 THEN 'Perfumeria' ELSE 'Hogar Bazar' END"""

# The analyst's warehouse tables, derived from the generated tables at full
# size, as the three pipelines load them; `ym` (yyyymm) is the partition.
WAREHOUSE = {
    "carrefour_data": f"""
        SELECT l.l_orderkey AS nro_ticket, CAST(o.o_orderdate AS DATE) AS fecha,
          {CATEG} AS categ, p.p_name AS prod,
          CASE WHEN l.l_linenumber % 3 = 0 THEN 1 ELSE CAST(l.l_quantity AS BIGINT) END AS cant,
          CASE WHEN l.l_linenumber % 3 = 0 THEN CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 0.5 AS DOUBLE)
               ELSE 0.0 END AS peso,
          CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS p_unit,
          CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS p_total,
          'TICKET' AS flujo,
          CAST(strftime(o.o_orderdate, '%Y%m') AS INTEGER) AS ym
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    "mp_data": """
        SELECT CAST(user_id % 23 AS BIGINT) AS report_id,
          CAST(DATE '2024-01-01' + CAST(user_id % 23 AS INTEGER) AS DATE) AS report_date,
          event_id AS source_id, CAST(ts AS DATE) AS settlement_date,
          event_type AS transaction_type,
          CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS monto,
          user_id AS pos_id, 'user_' || CAST(user_id AS VARCHAR) AS payer_name,
          CAST(strftime(ts, '%Y%m') AS INTEGER) AS ym
        FROM events""",
    "bank_payments": """
        SELECT md5(concat_ws('_', strftime(ts, '%d/%m/%Y'), strftime(ts, '%H:%M'),
              CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR), event_type)) AS id,
          'msg-' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS message_id,
          CAST(ts AS DATE) AS fecha_pago, strftime(ts, '%H:%M') || ':00' AS hora_pago,
          CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS monto, 'ARS' AS divisa,
          'Tarjeta_Santander' AS tarjeta, lpad(CAST(user_id AS VARCHAR), 4, '0') AS nro_tarjeta,
          event_type AS comercio,
          CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 5 + 1 AS INTEGER) AS cuotas,
          CAST(strftime(ts, '%Y%m') AS INTEGER) AS ym
        FROM events WHERE event_type <> 'error'""",
}


def generate_warehouse(data_dir, out_dir):
    """Write the warehouse tables as hive-partitioned parquet (ym=yyyymm/)."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads = 1")  # one writer, rows in ORDER BY order: byte-identical output
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for t in ("lineitem", "part", "orders", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for name, sql in WAREHOUSE.items():
        con.sql(f"COPY ({sql} ORDER BY ALL) TO '{Path(out_dir) / name}' "
                "(FORMAT PARQUET, PARTITION_BY (ym))")


def generate(out_dir, seed, scale=1.0):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in gen_tables(seed, scale).items():
        pq.write_table(table, out / f"{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
    generate_warehouse(sys.argv[1], Path(sys.argv[1]) / "warehouse")
