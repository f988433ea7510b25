"""Seeded input generators and independent expected answers.

Every input the engine sees is made here from the run's seed: the
TPC-H-shaped tables (DuckDB SQL over `range`, hashed with the seed), the
SPARQL texts with their parameters, the Turtle facility batches, the
SHACL shapes, the SPARQL Update texts (with planted shape violations) and
the curation corpus (with planted near-duplicate pairs).

The expected answer of every checked operation is computed here too,
independently of the engine: DuckDB SQL over the same parquet files for
the relational ops, Dijkstra for SSSP, and a plain Python model of the
repository state for the write ops and the reads after them. The JVM side
compares outside each op's timed window.

Usage (normally called from run.py):
    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import heapq
import json
import math
import os
import random
import sys

import duckdb

U = "urn:graft"
XSD = "http://www.w3.org/2001/XMLSchema#"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Star-schema table sizes, fixed per workload so every seed does the same
# amount of work (only the values move with the seed): point_lookup uses
# the sf0.1 sizes of TESTDATA.md (~600k lineitem rows), batch a fifth of
# them so that a cycle of its heavy op kinds fits in one run.
SF01 = (15000, 1000, 20000, 150000)
SCALE = {"point_lookup": 1.0, "batch": 0.2}
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = SF01


def set_scale(f):
    global N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS
    N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = (int(n * f) for n in SF01)


def p(table, column):
    return f"<{U}/{table}#{column}>"


def e(table, key):
    return f"<{U}/{table}/{key}>"


# ---------------------------------------------------------------- tables

def make_tables(con, seed, out):
    """Write the star-schema parquet tables for `seed` into `out`."""
    s = int(seed)
    con.execute(f"""
      CREATE TABLE region AS SELECT r_regionkey::INTEGER AS r_regionkey,
        r_name FROM (VALUES {",".join(f"({i},'{n}')"
                                      for i, n in enumerate(REGIONS))})
        t(r_regionkey, r_name);
      CREATE TABLE nation AS SELECT n_nationkey::INTEGER AS n_nationkey,
        n_name, n_regionkey::INTEGER AS n_regionkey
        FROM (VALUES {",".join(f"({i},'{n}',{r})"
                               for i, (n, r) in enumerate(NATIONS))})
        t(n_nationkey, n_name, n_regionkey);
      CREATE TABLE customer AS SELECT range::BIGINT AS c_custkey,
        'Customer#' || lpad(range::VARCHAR, 9, '0') AS c_name,
        (hash(range, 1, {s}) % 25)::INTEGER AS c_nationkey,
        round((hash(range, 2, {s}) % 1100000)::DOUBLE / 100 - 999.99, 2)
          AS c_acctbal,
        {seg_expr("hash(range, 3, " + str(s) + ")")} AS c_mktsegment
        FROM range(1, {N_CUSTOMER + 1});
      CREATE TABLE supplier AS SELECT range::BIGINT AS s_suppkey,
        'Supplier#' || lpad(range::VARCHAR, 9, '0') AS s_name,
        (hash(range, 4, {s}) % 25)::INTEGER AS s_nationkey,
        round((hash(range, 5, {s}) % 1100000)::DOUBLE / 100 - 999.99, 2)
          AS s_acctbal
        FROM range(1, {N_SUPPLIER + 1});
      CREATE TABLE part AS SELECT range::BIGINT AS p_partkey,
        'part ' || (hash(range, 6, {s}) % 997)::VARCHAR AS p_name,
        'Brand#' || (1 + hash(range, 7, {s}) % 5)::VARCHAR
          || (1 + hash(range, 8, {s}) % 5)::VARCHAR AS p_brand,
        ['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'PROMO']
          [1 + (hash(range, 9, {s}) % 6)::INTEGER] || ' BRASS' AS p_type,
        (1 + hash(range, 10, {s}) % 50)::INTEGER AS p_size,
        round(900 + (hash(range, 11, {s}) % 110000)::DOUBLE / 100, 2)
          AS p_retailprice
        FROM range(1, {N_PART + 1});
      CREATE TABLE orders AS SELECT range::BIGINT AS o_orderkey,
        (1 + hash(range, 12, {s}) % {N_CUSTOMER})::BIGINT AS o_custkey,
        ['F', 'O', 'P'][1 + (hash(range, 13, {s}) % 3)::INTEGER]
          AS o_orderstatus,
        round((hash(range, 14, {s}) % 45000000)::DOUBLE / 100 + 850, 2)
          AS o_totalprice,
        TIMESTAMP '1992-01-01 00:00:00'
          + to_days((hash(range, 15, {s}) % 2405)::INTEGER) AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
          [1 + (hash(range, 16, {s}) % 5)::INTEGER] AS o_orderpriority
        FROM range(1, {N_ORDERS + 1});
      CREATE TABLE lineitem AS SELECT o_orderkey AS l_orderkey,
        (1 + hash(o_orderkey, l, 17, {s}) % {N_PART})::BIGINT AS l_partkey,
        (1 + hash(o_orderkey, l, 18, {s}) % {N_SUPPLIER})::BIGINT
          AS l_suppkey,
        l::INTEGER AS l_linenumber,
        (1 + hash(o_orderkey, l, 19, {s}) % 50)::DOUBLE AS l_quantity,
        round((1 + hash(o_orderkey, l, 19, {s}) % 50)
          * (900 + (hash(o_orderkey, l, 20, {s}) % 110000)::DOUBLE / 100),
          2) AS l_extendedprice,
        (hash(o_orderkey, l, 21, {s}) % 11)::DOUBLE / 100 AS l_discount,
        (hash(o_orderkey, l, 22, {s}) % 9)::DOUBLE / 100 AS l_tax,
        ['R', 'A', 'N'][1 + (hash(o_orderkey, l, 23, {s}) % 3)::INTEGER]
          AS l_returnflag,
        ['O', 'F'][1 + (hash(o_orderkey, l, 24, {s}) % 2)::INTEGER]
          AS l_linestatus,
        o_orderdate + to_days(1 + (hash(o_orderkey, l, 25, {s}) % 121)
          ::INTEGER) AS l_shipdate
        FROM orders, range(1, 8) r(l)
        WHERE l <= 1 + hash(o_orderkey, 26, {s}) % 7;
    """)
    os.makedirs(out, exist_ok=True)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY ALL) TO "
                    f"'{out}/{t}.parquet' (FORMAT PARQUET, "
                    f"ROW_GROUP_SIZE 1000000)")


def seg_expr(h):
    return ("['" + "','".join(SEGMENTS) + "'][1 + (" + h + " % 5)::INTEGER]")


# ---------------------------------------------------------------- answers

def rows(con, sql):
    return [list(r) for r in con.execute(sql).fetchall()]


def select(vars_, rows_, ordered=False):
    return {"type": "select", "vars": vars_, "rows": rows_,
            "ordered": ordered}


# ------------------------------------------------------------ point_lookup

def point_lookup_ops(con, rng, n=48):
    """Selective SELECT/ASK texts with seed-drawn bound IRIs (golden g1/g4
    shapes: star, 2-3 hop chain, OPTIONAL, numeric FILTER, small ORDER
    BY/LIMIT, ASK), each with its DuckDB answer."""
    ops = []
    shapes = ["star", "chain3", "chain2_filter", "optional", "topk", "ask"]
    for i in range(n):
        shape = shapes[i % len(shapes)]
        if shape == "star":
            k = rng.randint(1, N_CUSTOMER)
            text = (f"SELECT ?name ?bal ?seg WHERE {{ {e('customer', k)} "
                    f"{p('customer', 'c_name')} ?name ; "
                    f"{p('customer', 'c_acctbal')} ?bal ; "
                    f"{p('customer', 'c_mktsegment')} ?seg }}")
            exp = select(["name", "bal", "seg"], rows(con, f"""
              SELECT c_name, c_acctbal, c_mktsegment FROM customer
              WHERE c_custkey = {k}"""))
        elif shape == "chain3":
            o = rng.randint(1, N_ORDERS)
            ln = 1
            text = (f"SELECT ?cn ?nn WHERE {{ {e('lineitem', f'{o}/{ln}')} "
                    f"{p('lineitem', 'l_orderkey')} ?o . "
                    f"?o {p('orders', 'o_custkey')} ?c . "
                    f"?c {p('customer', 'c_name')} ?cn ; "
                    f"{p('customer', 'c_nationkey')} ?n . "
                    f"?n {p('nation', 'n_name')} ?nn }}")
            exp = select(["cn", "nn"], rows(con, f"""
              SELECT c_name, n_name FROM lineitem JOIN orders
                ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              WHERE l_orderkey = {o} AND l_linenumber = {ln}"""))
        elif shape == "chain2_filter":
            k = rng.randint(1, N_CUSTOMER)
            x = rng.choice([1000, 50000, 100000, 200000])
            text = (f"SELECT ?o ?tp WHERE {{ ?o {p('orders', 'o_custkey')} "
                    f"{e('customer', k)} ; {p('orders', 'o_totalprice')} ?tp "
                    f". FILTER(?tp > {x}) }}")
            exp = select(["o", "tp"], rows(con, f"""
              SELECT '{U}/orders/' || o_orderkey, o_totalprice FROM orders
              WHERE o_custkey = {k} AND o_totalprice > {x}"""))
        elif shape == "optional":
            nk = rng.randint(0, 24)
            x = rng.choice([0, 500, 900])
            text = (f"SELECT ?s ?name ?bal WHERE {{ ?s "
                    f"{p('supplier', 's_nationkey')} {e('nation', nk)} ; "
                    f"{p('supplier', 's_name')} ?name . OPTIONAL {{ ?s "
                    f"{p('supplier', 's_acctbal')} ?bal . "
                    f"FILTER(?bal > {x}) }} }}")
            exp = select(["s", "name", "bal"], rows(con, f"""
              SELECT '{U}/supplier/' || s_suppkey, s_name,
                CASE WHEN s_acctbal > {x} THEN s_acctbal END
              FROM supplier WHERE s_nationkey = {nk}"""))
        elif shape == "topk":
            size = rng.randint(1, 50)
            brand = f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"
            text = (f"SELECT ?p ?price WHERE {{ ?p {p('part', 'p_size')} "
                    f"{size} ; {p('part', 'p_brand')} \"{brand}\" ; "
                    f"{p('part', 'p_retailprice')} ?price }} "
                    f"ORDER BY DESC(?price) ?p LIMIT 5")
            exp = select(["p", "price"], rows(con, f"""
              SELECT '{U}/part/' || p_partkey AS iri, p_retailprice
              FROM part WHERE p_size = {size} AND p_brand = '{brand}'
              ORDER BY p_retailprice DESC, iri LIMIT 5"""), ordered=True)
        else:  # ask
            k = rng.randint(1, N_CUSTOMER)
            seg = rng.choice(SEGMENTS)
            text = (f"ASK {{ {e('customer', k)} "
                    f"{p('customer', 'c_mktsegment')} \"{seg}\" }}")
            got = con.execute(f"SELECT count(*) FROM customer WHERE "
                              f"c_custkey = {k} AND c_mktsegment = '{seg}'"
                              ).fetchone()[0]
            exp = {"type": "ask", "value": got > 0}
        ops.append({"id": f"{shape}-{i}", "kind": shape, "text": text,
                    "expect": exp})
    return ops


# ------------------------------------------------------------------- batch

def q5_op(con, rng, rnd):
    """Six-way join + GROUP BY; region and two-year window drawn."""
    r = rng.randint(0, 4)
    y = rng.randint(1993, 1996)
    text = f"""SELECT ?nname (SUM(?qty) AS ?sum_qty) (COUNT(*) AS ?n) WHERE {{
  ?r {p('region', 'r_name')} "{REGIONS[r]}" .
  ?nk {p('nation', 'n_regionkey')} ?r ; {p('nation', 'n_name')} ?nname .
  ?c {p('customer', 'c_nationkey')} ?nk .
  ?o {p('orders', 'o_custkey')} ?c ; {p('orders', 'o_orderdate')} ?od .
  ?l {p('lineitem', 'l_orderkey')} ?o ; {p('lineitem', 'l_suppkey')} ?sp ;
     {p('lineitem', 'l_quantity')} ?qty .
  ?sp {p('supplier', 's_nationkey')} ?nk .
  FILTER(?od >= "{y}-01-01T00:00:00"^^<{XSD}dateTime> &&
         ?od < "{y + 2}-01-01T00:00:00"^^<{XSD}dateTime>)
}} GROUP BY ?nname"""
    exp = select(["nname", "sum_qty", "n"], rows(con, f"""
      SELECT n_name, sum(l_quantity), count(*)
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE s_nationkey = c_nationkey AND n_regionkey = {r}
        AND o_orderdate >= TIMESTAMP '{y}-01-01'
        AND o_orderdate < TIMESTAMP '{y + 2}-01-01'
      GROUP BY n_name"""))
    return {"id": f"q5-{rnd}", "kind": "q5", "text": text, "expect": exp}


def closure_op(con, rng, rnd):
    """Property-path `+` closure into a seed-drawn region."""
    r = rng.randint(0, 4)
    text = (f"SELECT (COUNT(DISTINCT ?x) AS ?n) WHERE {{ ?x "
            f"({p('customer', 'c_nationkey')}|{p('nation', 'n_regionkey')}"
            f")+ {e('region', r)} }}")
    n = con.execute(f"""
      SELECT (SELECT count(*) FROM nation WHERE n_regionkey = {r})
       + (SELECT count(*) FROM customer JOIN nation
            ON c_nationkey = n_nationkey WHERE n_regionkey = {r})
      """).fetchone()[0]
    return {"id": f"closure-{rnd}", "kind": "closure", "text": text,
            "expect": select(["n"], [[n]])}


# One update and one read-after-write per cycle, rotating through the kinds.
UPDATES = ["reject", "insert", "insert_where", "delete"]
READS = ["read_geo", "read_area", "read_count", "read_type_count"]


def batch_ops(con, rng, out, n_cycles=12):
    """The batch sequence: cycles of seven ops in a fixed kind order --
    six-way join, Turtle load, read-after-write, path closure, MinHash
    dedup, SPARQL Update, weighted SSSP. The write ops follow the ingest
    state model in order, so the sequence runs once, never wrapped."""
    kinds = []
    for c in range(n_cycles):
        kinds += ["load", READS[c % len(READS)], UPDATES[c % len(UPDATES)]]
    ingest = ingest_ops(rng, out, kinds)
    ops = []
    for c in range(n_cycles):
        load, read, update = ingest[3 * c:3 * c + 3]
        ops += [q5_op(con, rng, c), load, read, closure_op(con, rng, c),
                {"id": f"dedup-{c}", "kind": "dedup"}, update,
                sssp_op(con, rng, c)]
    return ops


def sssp_op(con, rng, rnd, max_cost=6):
    """Weighted co-occurrence edges of the parts ordered in a key range (a
    fifth of the orders); answer by Dijkstra over the DuckDB-built edges."""
    span = N_ORDERS // 5
    lo = rng.randint(1, N_ORDERS - span)
    hi = lo + span
    edges = con.execute(f"""
      WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE l_orderkey >= {lo} AND l_orderkey < {hi}),
      pairs AS (SELECT a.l_partkey AS src, b.l_partkey AS dst FROM li a
                JOIN li b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey)
      SELECT src, dst, greatest(3 - count(*), 1) AS w FROM pairs
      GROUP BY src, dst""").fetchall()
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    source = sorted(adj)[rng.randrange(len(adj))]
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        d, v = heapq.heappop(heap)
        if d > dist.get(v, 1 << 60):
            continue
        for u, w in adj[v]:
            nd = d + w
            if nd <= max_cost and nd < dist.get(u, 1 << 60):
                dist[u] = nd
                heapq.heappush(heap, (nd, u))
    return {"id": f"sssp-{rnd}", "kind": "sssp",
            "params": {"lo": lo, "hi": hi, "source": source,
                       "maxCost": max_cost},
            "expect": select(["v", "dist"],
                             [[v, d] for v, d in sorted(dist.items())])}


# ------------------------------------------------- ingest (batch write ops)

EX = "http://example.org/dublin#"
SCHEMA = "http://schema.org/"
GEO = "http://www.opengis.net/ont/geosparql#"
AREAS = ["NorthCentral", "NorthWest", "Central", "SouthCentral", "SouthEast"]
FTYPES = ["Park", "Library", "Playground", "SportsCentre", "CommunityCentre",
          "Museum", "Theatre", "Market", "Pool", "Garden", "Cinema",
          "Gallery"]
PREFIXES = f"""@prefix ex: <{EX}> .
@prefix schema: <{SCHEMA}> .
@prefix geo: <{GEO}> .
@prefix xsd: <{XSD}> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
"""
# Latitude/longitude window the shapes admit (central Dublin).
LAT_MIN, LAT_MAX, LON_MIN, LON_MAX = 53.30, 53.40, -6.35, -6.15
CENTRE = (53.3498, -6.2603)  # (lat, lon) of the distance filter


def ontology_ttl():
    """SURVEY §1.2 axioms: classes, domains/ranges, the 12 facility types
    and 5 committee areas (types of these instances are left for
    inference to derive from the property ranges)."""
    lines = [PREFIXES,
             "ex:Facility a owl:Class . ex:FacilityType a owl:Class .",
             "ex:CommitteeArea a owl:Class .",
             "ex:hasFacilityType a owl:ObjectProperty ; "
             "rdfs:domain ex:Facility ; rdfs:range ex:FacilityType .",
             "ex:inCommitteeArea a owl:ObjectProperty ; "
             "rdfs:domain ex:Facility ; rdfs:range ex:CommitteeArea .",
             "ex:facilityId a owl:DatatypeProperty ; rdfs:domain ex:Facility .",
             "ex:latitude a owl:DatatypeProperty ; rdfs:range xsd:decimal .",
             "ex:longitude a owl:DatatypeProperty ; rdfs:range xsd:decimal ."]
    for t in FTYPES:
        lines.append(f'ex:{t} rdfs:label "{t}" .')
    for a in AREAS:
        lines.append(f'ex:{a} rdfs:label "{a} Area Committee"@en .')
    return "\n".join(lines) + "\n"


def shapes_ttl():
    return f"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
@prefix schema: <{SCHEMA}> .
ex:FacilityShape a sh:NodeShape ;
  sh:targetClass ex:Facility ;
  sh:property [ sh:path ex:latitude ; sh:minInclusive {LAT_MIN} ;
                sh:maxInclusive {LAT_MAX} ] ;
  sh:property [ sh:path ex:longitude ; sh:minInclusive {LON_MIN} ;
                sh:maxInclusive {LON_MAX} ] ;
  sh:property [ sh:path schema:name ; sh:maxCount 1 ] .
"""


def haversine(lat1, lon1, lat2, lon2):
    r = 6371008.8
    f = math.pi / 180.0
    a1, o1, a2, o2 = lat1 * f, lon1 * f, lat2 * f, lon2 * f
    h = (math.sin((a2 - a1) / 2) ** 2
         + math.cos(a1) * math.cos(a2) * math.sin((o2 - o1) / 2) ** 2)
    return 2 * r * math.asin(math.sqrt(h))


class FacilityModel:
    """The expected repository state: facilities by id."""

    def __init__(self, rng):
        self.rng = rng
        self.next_id = 1
        self.fac = {}

    def new(self, valid=True):
        i = self.next_id
        self.next_id += 1
        rng = self.rng
        f = {"iri": f"{EX}fac_{i:06d}", "id": f"F{i:06d}",
             "name": f"Facility {i}", "type": rng.choice(FTYPES),
             "area": rng.choice(AREAS),
             "lat": round(rng.uniform(LAT_MIN, LAT_MAX), 4),
             "lon": round(rng.uniform(LON_MIN, LON_MAX), 4),
             "src": rng.choice(["parks.csv", "libraries.csv", "sports.csv"]),
             "reviewed": False}
        if not valid:
            f["lat"] = round(rng.uniform(60.0, 70.0), 4)
        return f

    @staticmethod
    def ttl(f):
        return (f"<{f['iri']}> ex:facilityId \"{f['id']}\" ;\n"
                f"  schema:name \"{f['name']}\" ;\n"
                f"  schema:address \"{f['area']}, Dublin\" ;\n"
                f"  ex:hasFacilityType ex:{f['type']} ;\n"
                f"  ex:inCommitteeArea ex:{f['area']} ;\n"
                f"  ex:latitude \"{f['lat']}\"^^xsd:decimal ;\n"
                f"  ex:longitude \"{f['lon']}\"^^xsd:decimal ;\n"
                f"  geo:asWKT \"POINT({f['lon']} {f['lat']})\""
                f"^^geo:wktLiteral ;\n"
                f"  ex:sourceDataset \"{f['src']}\" .\n")


TRIPLES_PER_FACILITY = 9


def ingest_ops(rng, out, kinds, batch=150, insert_n=4):
    """Loads, updates (planted shape violations among them) and
    read-after-write SELECTs of the given kinds, in order; expected answers
    from the state model."""
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/ontology.ttl", "w") as fh:
        fh.write(ontology_ttl())
    with open(f"{out}/shapes.ttl", "w") as fh:
        fh.write(shapes_ttl())
    m = FacilityModel(rng)
    ops = []
    pre = (f"PREFIX ex: <{EX}> PREFIX schema: <{SCHEMA}> "
           f"PREFIX geo: <{GEO}> PREFIX xsd: <{XSD}> ")
    nb = 0
    for i, kind in enumerate(kinds):
        op = {"id": f"{kind}-{i}", "kind": kind}
        if kind == "load":
            fs = [m.new() for _ in range(batch)]
            path = f"{out}/batch_{nb:04d}.ttl"
            nb += 1
            with open(path, "w") as fh:
                fh.write(PREFIXES + "".join(FacilityModel.ttl(f) for f in fs))
            for f in fs:
                m.fac[f["iri"]] = f
            op.update(path=os.path.basename(path),
                      triples=batch * TRIPLES_PER_FACILITY)
        elif kind == "insert":
            fs = [m.new() for _ in range(insert_n)]
            body = "".join(FacilityModel.ttl(f) for f in fs)
            op["text"] = pre + "INSERT DATA { " + body + " }"
            for f in fs:
                m.fac[f["iri"]] = f
            op["triples"] = insert_n * TRIPLES_PER_FACILITY
        elif kind == "reject":
            f = m.new(valid=False)
            op["text"] = (pre + "INSERT DATA { " + FacilityModel.ttl(f)
                          + " }")
            op["expect"] = {"type": "reject"}
        elif kind == "insert_where":
            a, t = rng.choice(AREAS), rng.choice(FTYPES)
            op["text"] = (pre + f"INSERT {{ ?f ex:reviewed true }} WHERE {{ "
                          f"?f ex:inCommitteeArea ex:{a} ; "
                          f"ex:hasFacilityType ex:{t} }}")
            for f in m.fac.values():
                if f["area"] == a and f["type"] == t:
                    f["reviewed"] = True
        elif kind == "delete":
            a, t = rng.choice(AREAS), rng.choice(FTYPES)
            op["text"] = (pre + f"DELETE WHERE {{ ?f ex:inCommitteeArea "
                          f"ex:{a} ; ex:hasFacilityType ex:{t} ; ?p ?o }}")
            m.fac = {k: f for k, f in m.fac.items()
                     if not (f["area"] == a and f["type"] == t)}
        elif kind == "read_area":
            # g1/g4: constant-bound star whose ex:Facility type is DERIVED
            # (rdfs:domain of ex:hasFacilityType), never asserted
            a = rng.choice(AREAS)
            op["text"] = (pre + f"SELECT ?f ?name ?reviewed WHERE {{ "
                          f"?f a ex:Facility ; ex:inCommitteeArea ex:{a} ; "
                          f"schema:name ?name . OPTIONAL {{ ?f ex:reviewed "
                          f"?reviewed }} }}")
            op["expect"] = select(["f", "name", "reviewed"], [
                [f["iri"], f["name"], "true" if f["reviewed"] else None]
                for f in m.fac.values() if f["area"] == a])
        elif kind == "read_type_count":
            # g2: GROUP BY type + COUNT, types typed by rdfs:range inference
            op["text"] = (pre + "SELECT ?t (COUNT(?f) AS ?n) WHERE { "
                          "?f ex:hasFacilityType ?t . ?t a ex:FacilityType } "
                          "GROUP BY ?t")
            cnt = {}
            for f in m.fac.values():
                cnt[f["type"]] = cnt.get(f["type"], 0) + 1
            op["expect"] = select(["t", "n"], [[EX + t, c]
                                               for t, c in cnt.items()])
        elif kind == "read_geo":
            # g5 + one geof:distance filter, over the facilities whose
            # ex:Facility type only inference derives
            dmax = rng.choice([2000, 3000, 4000])
            lat, lon = CENTRE
            op["text"] = (pre + "PREFIX geof: <http://www.opengis.net/def/"
                          "function/geosparql/> SELECT ?f WHERE { "
                          "?f a ex:Facility ; geo:asWKT ?w ; "
                          "ex:latitude ?lat . "
                          f"FILTER(?lat > {LAT_MIN} && ?lat < {LAT_MAX} && "
                          f"geof:distance(?w, \"POINT({lon} {lat})\"^^"
                          f"geo:wktLiteral) < {dmax}) }}")
            must, may = [], []
            for f in m.fac.values():
                if not (LAT_MIN < f["lat"] < LAT_MAX):
                    continue
                d = haversine(f["lat"], f["lon"], lat, lon)
                if d < dmax - 1:
                    must.append([f["iri"]])
                elif d < dmax + 1:
                    may.append([f["iri"]])
            op["expect"] = {"type": "select", "vars": ["f"], "rows": must,
                            "may": may, "ordered": False}
        elif kind == "read_count":
            # g6 restricted to the facility records
            op["text"] = (pre + "SELECT (COUNT(*) AS ?n) WHERE { "
                          "?f ex:facilityId ?id }")
            op["expect"] = select(["n"], [[len(m.fac)]])
        ops.append(op)
    return ops


# ------------------------------------------------- corpus (batch dedup op)

VOCAB_SIZE = 3000


def corpus_inputs(rng, out, n_docs=400, dup_rate=0.08, files=4):
    """Corpus of seeded pseudo-English documents; a fixed share are planted
    near-duplicates of a base document (one word changed)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    nrng = np.random.default_rng(rng.randrange(1 << 31))
    vocab = ("the of and to in is that for it as was with be by on not he "
             "this are or his from at which but have an they you were her "
             "she all there would their we him been has when who will more "
             "no if out so said what up its about into than them can only "
             "other new some could time these two may then do first any my "
             "now such like our over man me even most made after also did "
             "many before must through back years where much your way well "
             "down should because each just those people how too little "
             "state good very make world still own see men work long get "
             "here between both life being under never day same another "
             "know while last might us great old year off come since "
             "against go came right used take three").split()
    vocab += [f"w{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}"
              f"{chr(97 + (i // 676) % 26)}"
              for i in range(VOCAB_SIZE - len(vocab))]
    zipf = np.array([1.0 / (i + 1) ** 0.9 for i in range(len(vocab))])
    zipf /= zipf.sum()
    n_dup = int(n_docs * dup_rate)
    n_base = n_docs - n_dup
    texts = []
    for _ in range(n_base):
        idx = nrng.choice(len(vocab), size=int(nrng.integers(40, 80)), p=zipf)
        texts.append(" ".join(
            (vocab[j].capitalize() if k % 12 == 0 else vocab[j])
            + ("." if k % 12 == 11 else "") for k, j in enumerate(idx)) + ".")
    planted = []
    for j, b in enumerate(nrng.choice(n_base, size=n_dup, replace=False)):
        words = texts[b].split()
        k = int(nrng.integers(0, len(words)))
        words[k] = "zz" + words[k]
        texts.append(" ".join(words))
        planted.append([int(b) + 1, n_base + j + 1])
    tbl = pa.table({"doc_id": pa.array(range(1, n_docs + 1), pa.int64()),
                    "text": pa.array(texts)})
    # one file per core, as a corpus landing from parallel writers
    os.makedirs(out, exist_ok=True)
    step = -(-n_docs // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * step, step), f"{out}/part-{i}.parquet")
    return {"n_docs": n_docs, "planted": planted}


# -------------------------------------------------------------------- main

def main(workload, seed, out):
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    spec = {"workload": workload, "seed": int(seed)}
    if workload in ("point_lookup", "batch"):
        con = duckdb.connect()
        con.execute("SET threads = 4")
        set_scale(SCALE[workload])
        make_tables(con, seed, f"{out}/data")
        if workload == "point_lookup":
            spec["ops"] = point_lookup_ops(con, rng)
        else:
            spec.update(corpus_inputs(rng, f"{out}/corpus"))
            spec["ops"] = batch_ops(con, rng, out)
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(f"{out}/spec.json", "w") as fh:
        json.dump(spec, fh, default=str)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
