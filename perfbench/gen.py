"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical inputs, and `fingerprint` hashes what was written so paired
runs can show they saw the same data.

- `star_schema`: the TPC-H-shaped star schema plus the events, documents and
  embeddings tables the query suite reads, one parquet file per table, at
  the row counts of scale factor 0.1.
- `movies_lines`: a `Movies.txt` block catalog (`ITEM n` then `Key = Value`
  lines) shaped like the reference catalog: ~8,701 items over 75 keys, with
  dirty `ListPrice` strings.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "nut", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def orders_table(rng, n_orders, n_cust):
    keys = np.arange(n_orders, dtype="int64")
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype="int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })


def _documents(rng, n):
    texts, langs = [], rng.choice(LANGS, n, p=LANG_P)
    lengths = rng.integers(8, 90, n)
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, the shape dedup queries find
            base = texts[int(rng.integers(0, i))]
            texts.append(base if base.endswith(" dup") else base + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype("int32")
    centers = rng.normal(0, 1, (labels, dim))
    x = rng.normal(0, 1, (n, dim)) + 0.07 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label,
    })


def star_schema(out_dir, seed, only=None):
    """Write the star schema for `seed` under `out_dir`; `only` limits the
    tables written (the `tables` workload needs `orders` alone)."""
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS
    want = set(only) if only else None

    def emit(name, build):
        # every table draws from its own child stream, so `only` subsets
        # produce the same bytes as the full schema
        sub = np.random.default_rng([seed, sum(map(ord, name))])
        if want is None or name in want:
            _write(out_dir, name, build(sub))

    emit("region", lambda r: pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()), "r_name": REGIONS}))
    emit("nation", lambda r: pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}))
    emit("customer", lambda r: pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": r.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": r.choice(SEGMENTS, n["customer"])}))
    emit("supplier", lambda r: pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": r.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])}))
    emit("part", lambda r: pa.table({
        "p_partkey": np.arange(n["part"], dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, n["part"]),
                                              r.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
        "p_type": r.choice(PART_TYPES, n["part"]),
        "p_size": r.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10.0, 2)}))
    emit("orders", lambda r: orders_table(r, n["orders"], n["customer"]))

    def lineitem(r):
        m = n["lineitem"]
        qty = r.integers(1, 51, m).astype("float64")
        return pa.table({
            "l_orderkey": r.integers(0, n["orders"], m, dtype="int64"),
            "l_partkey": r.integers(0, n["part"], m, dtype="int64"),
            "l_suppkey": r.integers(0, n["supplier"], m, dtype="int64"),
            "l_linenumber": r.integers(1, 8, m).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(r, 900, 2100, m), 2),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], m),
            "l_linestatus": r.choice(["F", "O"], m),
            "l_shipdate": _ts(EPOCH_1995_US + r.integers(1, 2500, m) * DAY_US)})
    emit("lineitem", lineitem)

    def events(r):
        m = n["events"]
        ts = np.sort(EPOCH_2024_US + r.integers(0, 30 * DAY_US, m))
        return pa.table({
            "event_id": np.arange(m, dtype="int64"),
            "ts": _ts(ts),
            "user_id": r.integers(0, 1500, m, dtype="int64"),
            "event_type": r.choice(EVENT_TYPES, m),
            "value": np.round(np.minimum(r.exponential(50.0, m), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, m)]})
    emit("events", events)
    emit("documents", lambda r: _documents(r, n["documents"]))
    emit("embeddings", lambda r: _embeddings(r, n["embeddings"]))


MOVIE_KEYS = (
    "Actor Artist AspectRatio AudienceRating Binding Brand CEROAgeRating "
    "ClothingSize Color Creator Department Director EAN EANList Edition "
    "EpisodeSequence ESRBAgeRating Feature Format Genre HardwarePlatform "
    "HazardousMaterialType IsAdultProduct IsAutographed ISBN IsEligibleForTradeIn "
    "IsMemorabilia IssuesPerYear ItemPartNumber Label Languages LegalDisclaimer "
    "ListPrice Manufacturer ManufacturerMaximumAge ManufacturerMinimumAge "
    "ManufacturerPartsWarrantyDescription MediaType Model ModelYear MPN "
    "NumberOfDiscs NumberOfIssues NumberOfItems NumberOfPages NumberOfTracks "
    "OperatingSystem PackageQuantity PartNumber Platform ProductGroup "
    "ProductTypeName ProductTypeSubcategory PublicationDate Publisher "
    "RegionCode ReleaseDate RunningTime SeikodoProductCode Size SKU Studio "
    "SubscriptionLength Theatrical Title TradeInValue UPC UPCList Warranty "
    "Author Binding2 Catalog Rating"
).split()
MOVIE_ITEMS = 8701
GENRES = ["Action", "Comedy", "Documentary", "Drama", "Horror", "Kids",
          "Music", "Romance", "Sci-Fi", "Thriller"]


def movie_item(rng, item_no):
    """Lines of one `ITEM` block. Title, Genre and ListPrice are present in
    most blocks (the columns the catalog ETL cleans); other keys are a
    random subset."""
    lines = [f"ITEM {item_no}"]
    extra = rng.choice(len(MOVIE_KEYS), int(rng.integers(3, 9)), replace=False)
    for k in sorted(extra):
        key = MOVIE_KEYS[k]
        if key not in ("Title", "Genre", "ListPrice"):
            lines.append(f"{key} = {key.lower()}-{int(rng.integers(0, 500))}")
    if rng.random() < 0.97:
        lines.append(f"Title = Movie {item_no} {' '.join(rng.choice(WORDS, 2))}")
    if rng.random() < 0.95:
        lines.append(f"Genre = {GENRES[int(rng.integers(0, len(GENRES)))]}")
    r = rng.random()
    if r < 0.90:
        cents = int(rng.integers(99, 5000))
        lines.append(f"ListPrice = {cents}USD${cents // 100}.{cents % 100:02d}")
    elif r < 0.95:
        lines.append(f"ListPrice = {int(rng.integers(99, 5000))}USD")
    return lines


def movies_lines(seed, first, count):
    """Lines of items `first .. first+count-1` for `seed`; each item is drawn
    from its own stream, so any block can be produced on its own."""
    out = []
    for i in range(first, first + count):
        out.extend(movie_item(np.random.default_rng([seed, i]), i))
    return out


def fingerprint(paths):
    """sha256 over the bytes of the given files (or every file under the
    given directories), in sorted path order."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                files += [os.path.join(root, f) for f in names]
        else:
            files.append(p)
    h = hashlib.sha256()
    total = 0
    for f in sorted(files):
        with open(f, "rb") as fh:
            data = fh.read()
        h.update(os.path.basename(f).encode())
        h.update(data)
        total += len(data)
    return h.hexdigest()[:16], total
