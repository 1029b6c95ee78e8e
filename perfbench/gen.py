"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the
workload seed, so the same seed always gives the same inputs:

* food rows: the reference's 17 nutrient columns plus a description,
  written as JSON messages (the shape a Kafka producer would send);
* serving requests: the route mix, payloads, Zipf-skewed ids and
  allergen terms of the `serve` workload;
* registry tables: the ten parquet tables the query registry reads.
"""

import bisect
import datetime as dt
import json
import os
import random

# The 17 nutrient columns, in the program's schema order.
NUTRIENTS = [
    "Protein-G",
    "Total lipid (fat)-G",
    "Carbohydrate, by difference-G",
    "Energy-KCAL",
    "Sugars, total including NLEA-G",
    "Fiber, total dietary-G",
    "Calcium, Ca-MG",
    "Iron, Fe-MG",
    "Sodium, Na-MG",
    "Vitamin D (D2 + D3)-UG",
    "Cholesterol-MG",
    "Fatty acids, total saturated-G",
    "Potassium, K-MG",
    "Vitamin C, total ascorbic acid-MG",
    "Vitamin B-6-MG",
    "Vitamin B-12-UG",
    "Zinc, Zn-MG",
]

# Share of nutrient values sent as JSON null, and share of nutrient keys
# left out of a message altogether. Both reach the trainer as nulls and
# take the program's coercion defaults. There is no measured share for
# the reference data; these are small enough to leave the value
# distributions as drawn, yet over 17 columns they put a null or an
# absent key in about 70% of the rows, so the defaults run on most rows.
NULL_SHARE = 0.05
ABSENT_SHARE = 0.02
MESSAGE_FILES = 4

# Allergen vocabulary: common terms match many descriptions (low
# selectivity), rare terms match few (high selectivity).
COMMON_ALLERGENS = ["milk", "wheat", "egg", "soy"]
RARE_ALLERGENS = ["sesame", "mustard", "celery", "lupin", "mollusc"]
_ALLERGEN_WEIGHTS = [30, 25, 20, 15, 2, 1.5, 1, 0.6, 0.4]
_CATEGORIES = [
    "Bread", "Cheese", "Cereal", "Soup", "Snack", "Sauce", "Pasta",
    "Cookie", "Yogurt", "Sausage", "Salad", "Dessert", "Beverage",
    "Cracker", "Dressing", "Pastry",
]
_STYLES = ["plain", "whole grain", "reduced fat", "smoked", "frozen",
           "canned", "fresh", "roasted", "low sodium", "sweetened"]


def _nutrients(rng):
    protein = rng.uniform(0, 40)
    fat = rng.uniform(0, 45)
    carbs = rng.uniform(0, 80)
    return [
        protein,
        fat,
        carbs,
        4 * protein + 9 * fat + 4 * carbs + rng.gauss(0, 15),
        carbs * rng.uniform(0, 0.6),
        rng.uniform(0, 15),
        rng.uniform(0, 600),
        rng.uniform(0, 12),
        rng.uniform(0, 1500),
        rng.uniform(0, 10),
        rng.uniform(0, 250),
        fat * rng.uniform(0, 0.5),
        rng.uniform(0, 900),
        rng.uniform(0, 90),
        rng.uniform(0, 2),
        rng.uniform(0, 5),
        rng.uniform(0, 10),
    ]


def _description(rng, i):
    terms = []
    for _ in range(rng.choice([0, 1, 1, 2])):
        term = rng.choices(COMMON_ALLERGENS + RARE_ALLERGENS,
                           weights=_ALLERGEN_WEIGHTS)[0]
        if term not in terms:
            terms.append(term)
    parts = [rng.choice(_CATEGORIES)] + terms + [rng.choice(_STYLES)]
    # the running number makes every description unique, so ordering
    # the rows by description is a total order
    return ", ".join(parts) + f" #{i:06d}"


def food_messages(seed, n):
    """n food records as dicts, each as a producer would serialize it."""
    rng = random.Random(f"food-{seed}")
    out = []
    for i in range(n):
        msg = {}
        for name, value in zip(NUTRIENTS, _nutrients(rng)):
            r = rng.random()
            if r < ABSENT_SHARE:
                continue
            msg[name] = None if r < ABSENT_SHARE + NULL_SHARE \
                else round(max(value, 0.0), 2)
        msg["description"] = _description(rng, i)
        out.append(msg)
    return out


def write_food_messages(seed, n, out_dir):
    """Write the messages as JSON-lines files, as the partitions of a
    Kafka topic would hold them."""
    os.makedirs(out_dir, exist_ok=True)
    msgs = food_messages(seed, n)
    for f in range(MESSAGE_FILES):
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            for m in msgs[f::MESSAGE_FILES]:
                fh.write(json.dumps(m) + "\n")


# --------------------------------------------------------------------
# serving requests
# --------------------------------------------------------------------

# Routes of the serving load. Score routes are answered on the driver;
# lookup routes launch a Spark job per request. No measured traffic of
# the reference app exists, so every route gets the same share: one
# request each in a block of nine that repeats. The block spaces the
# three lookups evenly between the score requests; a seeded route order
# let lookups bunch up at random and queue behind each other, which
# made the latency of a run depend on its seed.
SCORE_ROUTES = ["predict1", "predict2", "predict4", "predict5", "stats",
                "health"]
LOOKUP_ROUTES = ["predict3", "find_allergen", "food_details"]
ROUTES = ["predict1", "predict2", "predict3", "predict4", "predict5",
          "stats", "health", "find_allergen", "food_details"]
BLOCK = ["predict3", "predict1", "predict4", "find_allergen", "predict5",
         "predict2", "food_details", "stats", "health"]
NUM_MODELS = 5
# /food_details ids are skewed, as lookups favour popular foods; with no
# measured popularity for this app, the classic Zipf law (s = 1) is used.
ZIPF_S = 1.0


def slice_bound(n, k):
    return n * k // NUM_MODELS


class Zipf:
    """Zipf(ZIPF_S) over ranks 0..size-1, rank 0 the most frequent."""

    def __init__(self, size):
        acc, self.cdf = 0.0, []
        for r in range(1, size + 1):
            acc += 1.0 / r ** ZIPF_S
            self.cdf.append(acc)

    def draw(self, rng):
        return bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])


def _payload(rng):
    names = rng.sample(NUTRIENTS, rng.randint(3, len(NUTRIENTS)))
    return {k: round(v, 2) for k, v in zip(NUTRIENTS, _nutrients(rng))
            if k in names}


def requests(seed, n_rows, count):
    """`count` requests: (route, method, path, body-dict-or-None, model).

    Routes follow BLOCK; the seed draws the payloads, models, ids and
    allergen terms. find_allergen alternates common and rare terms."""
    rng = random.Random(f"requests-{seed}")
    zipfs = {k: Zipf(slice_bound(n_rows, k)) for k in range(1, 6)}
    # ids are Zipf over a seeded permutation of the first slice, so the
    # hot ids are scattered over the table instead of being its head
    perm = list(range(slice_bound(n_rows, 1)))
    rng.shuffle(perm)
    out, allergen = [], 0
    while len(out) < count:
        route = BLOCK[len(out) % len(BLOCK)]
        k = rng.randint(1, NUM_MODELS)
        if route.startswith("predict"):
            mid = int(route[-1])
            out.append((route, "POST", f"/predict/{mid}", _payload(rng), mid))
        elif route == "stats":
            out.append((route, "GET", f"/stats/model{k}", None, k))
        elif route == "health":
            out.append((route, "GET", "/health", None, 0))
        elif route == "find_allergen":
            allergen += 1
            pool = COMMON_ALLERGENS if allergen % 2 else RARE_ALLERGENS
            term = rng.choice(pool)
            out.append((route, "GET", f"/find_allergen/model{k}?allergy={term}",
                        None, k))
        else:
            rank = zipfs[k].draw(rng)
            rid = perm[rank] if rank < len(perm) else rank
            out.append((route, "GET", f"/food_details/model{k}/{rid}", None, k))
    return out


# --------------------------------------------------------------------
# registry tables
# --------------------------------------------------------------------

_WORDS = ("the a data row column table scan join merge sort filter group "
          "key value query stream batch window hash agg line part order "
          "customer vector spark small big fast slow dup").split()


def registry_tables(seed, out_dir, lineitems=60000):
    """Write the ten registry tables as parquet files under out_dir.

    Shapes follow the program's fixture contract (a TPC-H-like star
    schema plus events, documents and embeddings); sizes scale with
    `lineitems` (60,000 is the sf0.01 size)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"registry-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_orders = lineitems // 4
    n_cust = max(lineitems // 40, 10)
    n_part = max(lineitems // 30, 10)
    n_supp = max(lineitems // 600, 10)
    n_events = max(lineitems // 6, 100)
    epoch = dt.datetime(1995, 1, 1)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"]
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segments) for _ in range(n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(n_supp)]})
    adjs, nouns = ["cold", "small", "large", "red", "steel"], \
        ["widget", "bolt", "gear", "panel", "valve"]
    types = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(types) for _ in range(n_part)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)],
                           pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2)
                          for i in range(n_part)]})

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    odates = [epoch + dt.timedelta(days=rng.randrange(2404))
              for _ in range(n_orders)]
    write("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 450000), 2)
                         for _ in range(n_orders)],
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": [rng.choice(prios) for _ in range(n_orders)]})

    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    order = 0
    while len(li["l_orderkey"]) < lineitems:
        for line in range(1, min(rng.randint(1, 7),
                                 lineitems - len(li["l_orderkey"])) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(order % n_orders)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[order % n_orders]
                                    + dt.timedelta(days=rng.randint(1, 120)))
        order += 1
    li["l_orderkey"] = pa.array(li["l_orderkey"], pa.int64())
    li["l_partkey"] = pa.array(li["l_partkey"], pa.int64())
    li["l_suppkey"] = pa.array(li["l_suppkey"], pa.int64())
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    write("lineitem", li)

    t0 = dt.datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 30 * 86400) for _ in range(n_events))
    kinds = ["signup", "click", "error", "purchase", "view"]
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=s) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(max(n_events // 60, 5))
                             for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(kinds) for _ in range(n_events)],
        "value": [round(rng.uniform(0, 200), 2) for _ in range(n_events)],
        "props": [json.dumps({"k": rng.randrange(100)})
                  for _ in range(n_events)]})

    langs = ["en"] * 6 + ["de", "fr", "es", "zh"]
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 90)))
             for _ in range(500)]
    write("documents", {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(500)],
        "source": [f"src{rng.randrange(20)}" for _ in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centroids = [[rng.gauss(0, 0.15) for _ in range(64)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(500)]
    write("embeddings", {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(
            [[c + rng.gauss(0, 0.08) for c in centroids[lab]]
             for lab in labels], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
