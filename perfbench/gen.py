"""Seeded input generator for the perfbench harness.

Everything the engine sees during a benchmark run is written here, from two
seeds:

* the CORPUS seed is a constant: the star-schema tables, documents and
  embeddings are the same for every run, so analytics result hashes can be
  pinned in ``analytics_manifest.json`` and set-up cost does not vary by seed;
* the RUN seed (``--seed``) drives everything a user would send: the serve
  request stream, the Essentia documents of the serve store and of the
  ingest micro-batches, the vectors appended on index refresh, and the
  analytics query order.

Usage: ``python3 perfbench/gen.py <out_dir> <seed> <workload>``.  The same
arguments always produce byte-identical files (see ``test_gen.py``).
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_SEED = 42
# Row counts of the fixed corpus (the shape of the repo's sf0.01 drop).
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_EVENTS, N_DOCS, N_VECS = 15000, 10000, 500, 500
DIM = 64
N_LABELS = 10

# Serve store and request stream.
N_GIDS = 400
N_REQUESTS = 1000
REFRESH_VECS = 100
N_BATCHES = 40

# ---- the traffic mix ------------------------------------------------------
# Set by the benchmark's specification: two closed-loop reader clients
# (Serve.scala), 1-25 items per bulk lookup (the reference API's
# MAX_ITEMS_PER_BULK_REQUEST), Zipf-skewed MBIDs, about 2 % malformed
# lookups, at most CAP submissions per recording (the reference's
# duplicate cap), and seeded shares of duplicate, over-cap and invalid
# submissions.
MAX_ITEMS = 25
MALFORMED_EVERY = 50  # one lookup in 50 (2 %) is malformed
CAP = 10
# UNVERIFIED ASSUMPTIONS. No production traffic log is available, so each
# value below is a plain choice, not a measurement; README.md lists the
# metric each one drives.
LOOKUP_EVERY = 2  # lookups and top-K requests alternate, 1:1
SIM_KINDS = ["exact", "ivf", "composed"]  # equal shares, in turn
MAX_QUERY_IDS = 5  # 1-5 query ids per top-K request
ZIPF_S = 1.0  # the classic Zipf exponent
NONCANONICAL_SHARE = 0.15  # brace/uppercase ids, which fill mbid_mapping
BATCH_DOCS = 24
BATCH_INTERVAL_S = 3.0  # one ingest micro-batch every 3 s, open loop
DUP_SHARE, CAP_SHARE, INVALID_SHARE = 0.10, 0.10, 0.08

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _ts_us(base, offsets_s):
    return (np.datetime64(base, "us")
            + (offsets_s * 1e6).astype("int64").astype("timedelta64[us]"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def corpus_tables(out):
    """The fixed corpus as parquet files: embeddings, star schema, events
    and documents. Returns the embedding cluster centres (refresh vectors
    are drawn around them)."""
    os.makedirs(out, exist_ok=True)
    erng = np.random.default_rng([CORPUS_SEED, 1])
    centers = erng.normal(0, 1, (N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    write_embeddings(f"{out}/embeddings.parquet", erng, centers, 0, N_VECS)
    star_tables(out, np.random.default_rng(CORPUS_SEED))
    return centers


def star_tables(out, rng):
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["red", "blue", "small", "large", "hot", "old", "green",
                    "shiny"])
    noun = np.array(["ring", "widget", "plate", "rod", "bolt", "anvil",
                     "gear", "valve"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, N_PART)],
                                          " "),
                              noun[rng.integers(0, 8, N_PART)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, N_PART).astype(str)),
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2)}),
        f"{out}/part.parquet")
    odate = _ts_us("1995-01-01", rng.integers(0, 2404, N_ORDERS) * 86400.0)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS),
                              pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3,
                                                              N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]}),
        f"{out}/orders.parquet")
    lines = rng.integers(1, 8, N_ORDERS)
    lok = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(lok)
    qty = rng.integers(1, 51, n).astype(float)
    pk = rng.integers(0, N_PART, n)
    flags = rng.integers(0, 6, n)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (pk % 1000) / 10)
                                    * rng.uniform(0.95, 1.05, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, n).astype(
            "timedelta64[D]").astype("timedelta64[us]"), pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ev = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    _write(pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(_ts_us("2024-01-01", ev), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup queries'
            # positive cases)
            w = texts[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(np.array(WORDS)[
                rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCS)],
        "source": np.char.add("src", rng.integers(0, 20, N_DOCS).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")


def embedding_rows(rng, centers, first_id, n):
    label = rng.integers(0, N_LABELS, n)
    v = 0.15 * centers[label] + rng.normal(0, 1.0 / np.sqrt(DIM), (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_embeddings(path, rng, centers, first_id, n):
    _write(embedding_rows(rng, centers, first_id, n), path)


def mbid(rng):
    h = "".join(f"{x:08x}" for x in rng.integers(0, 1 << 32, 4,
                                                  dtype=np.uint64))
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def essentia_doc(rng, gid, drop=None):
    """One low-level Essentia document in the reference's submission shape
    (FIXTURES.md §1). ``drop`` removes one required key (an invalid
    submission)."""
    r = lambda lo, hi: round(float(rng.uniform(lo, hi)), 6)
    vec = lambda k: [round(float(x), 6) for x in rng.normal(0, 1, k)]
    stats = lambda: {"mean": r(0, 1), "median": r(0, 1), "min": r(0, 0.1),
                     "max": r(1, 2), "var": r(0, 0.5), "dmean": r(0, 0.1),
                     "dmean2": r(0, 0.1), "dvar": r(0, 0.01),
                     "dvar2": r(0, 0.01)}
    keys = ["C", "C#", "D", "D#", "E", "F", "F#", "G", "G#", "A", "A#", "B"]
    doc = {
        "metadata": {
            "version": {"essentia": "2.1-beta2", "essentia_git_sha": "v2.1",
                        "extractor": "music 1.0",
                        "essentia_build_sha": f"{rng.integers(0, 1 << 31):x}"},
            "audio_properties": {
                "length": r(30, 600), "bit_rate": int(rng.integers(1, 5)) *
                64000, "codec": "mp3", "lossless": bool(rng.random() < 0.2),
                "sample_rate": 44100, "analysis_sample_rate": 44100,
                "replay_gain": r(-20, 0), "md5_encoded": f"{gid[:8]}md5"},
            "tags": {"file_name": [f"{gid[:8]}.mp3"],
                     "musicbrainz_recordingid": [gid],
                     "artist": [f"artist {rng.integers(0, 50)}"]}},
        "lowlevel": {
            "average_loudness": r(0, 1), "dynamic_complexity": r(0, 10),
            "spectral_centroid": stats(), "dissonance": stats(),
            "zerocrossingrate": stats(),
            "mfcc": {"mean": vec(13)}, "gfcc": {"mean": vec(13)},
            "barkbands": {"mean": vec(27)}},
        "rhythm": {
            "bpm": r(60, 180), "beats_count": int(rng.integers(50, 900)),
            "danceability": r(0, 3), "onset_rate": r(0, 6),
            "beats_loudness": stats(),
            "bpm_histogram_first_peak_bpm": stats(),
            "bpm_histogram_second_peak_bpm": stats(),
            "beats_position": vec(int(rng.integers(4, 16)))},
        "tonal": {
            "key_key": keys[rng.integers(0, 12)],
            "key_scale": ["major", "minor"][rng.integers(0, 2)],
            "key_strength": r(0, 1), "chords_key": keys[rng.integers(0, 12)],
            "chords_scale": ["major", "minor"][rng.integers(0, 2)],
            "chords_changes_rate": r(0, 1), "tuning_frequency": r(430, 450),
            "tuning_equal_tempered_deviation": r(0, 0.2),
            "chords_histogram": vec(24)}}
    if drop:
        *path, last = drop.split(".")
        node = doc
        for p in path:
            node = node[p]
        del node[last]
    return doc


def store_docs(rng):
    """Seeded serve store: N_GIDS recordings with 1-3 submissions each."""
    gids = [mbid(rng) for _ in range(N_GIDS)]
    rows = []
    t = 0
    for g in gids:
        for _ in range(int(rng.integers(1, 4))):
            t += 1
            rows.append({"gid": g, "submitted": t,
                         "raw": json.dumps(essentia_doc(rng, g))})
    return gids, rows


def serve_requests(rng, gids, counts):
    """The request stream: bulk lookups with Zipf-skewed MBIDs (~2 % of
    them malformed and bound to be rejected) and top-K similarity
    requests spread over the three serving paths."""
    ranks = np.arange(1, len(gids) + 1)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    order = rng.permutation(len(gids))
    feats = ["rhythm.bpm", "tonal.key_key", "lowlevel.average_loudness",
             "metadata.tags", "rhythm.danceability", "tonal.key_scale"]
    out = []
    for i in range(N_REQUESTS):
        # fixed schedules for the kind, the request size and which lookups
        # are malformed: seeds vary what is asked, not how much
        j = i // LOOKUP_EVERY
        if i % LOOKUP_EVERY == 0:
            k = 1 + (j * 7) % MAX_ITEMS
            items = []
            for ix in order[rng.choice(len(gids), k, p=p)]:
                g = gids[ix]
                if rng.random() < NONCANONICAL_SHARE:
                    g = "{" + g.replace("-", "").upper() + "}"
                off = int(rng.integers(0, counts[gids[ix]] + 1))
                items.append(f"{g}:{off}" if off or rng.random() < 0.5 else g)
            malformed = j % MALFORMED_EVERY == 3
            if malformed:
                items[int(rng.integers(0, k))] = (
                    "not-a-uuid" if rng.random() < 0.5 else f"{gids[0]}:1:2")
            fs = ";".join(np.array(feats)[rng.choice(len(feats),
                                                     int(rng.integers(1, 4)),
                                                     replace=False)])
            out.append({"kind": "lookup", "param": ";".join(items),
                        "features": fs, "malformed": malformed})
        else:
            ids = sorted(int(x) for x in rng.choice(
                N_VECS, 1 + j % MAX_QUERY_IDS, replace=False))
            out.append({"kind": SIM_KINDS[j % len(SIM_KINDS)], "ids": ids})
    return out


def ingest_batches(rng):
    """Micro-batches of raw submissions with seeded shares of exact
    duplicates, over-cap resubmissions and invalid documents. Each doc
    carries the outcome the reference semantics demand, so the harness
    can check the engine's accept/reject split exactly."""
    required = ["metadata.version.essentia", "metadata.audio_properties.codec",
                "metadata.tags.file_name", "lowlevel", "rhythm", "tonal"]
    sent = []          # (gid, raw) of accepted submissions, for duplicates
    distinct = {}      # gid -> distinct accepted contents so far
    hot = [mbid(rng) for _ in range(2)]
    batches = []
    t = 1_000_000  # after every store submission

    def fresh(g):
        """A new document for `g`: accepted until the gid holds CAP."""
        raw = json.dumps(essentia_doc(rng, g))
        n = distinct.get(g, 0)
        if n >= CAP:
            return raw, "cap"
        distinct[g] = n + 1
        sent.append((g, raw))
        return raw, "accept"

    for b in range(N_BATCHES):
        batch = []
        for i in range(BATCH_DOCS):
            t += 1
            u = rng.random()
            if b == 0 and i <= CAP:
                # the first batch opens with CAP + 1 distinct submissions of
                # one recording, so every run crosses the cap
                g = hot[0]
                raw, expect = fresh(g)
            elif u < INVALID_SHARE:
                g = mbid(rng)
                raw = json.dumps(essentia_doc(
                    rng, g, drop=required[rng.integers(0, len(required))]))
                expect = "invalid"
            elif u < INVALID_SHARE + DUP_SHARE and sent:
                g, raw = sent[rng.integers(0, len(sent))]
                expect = "dup"
            else:
                g = (hot[rng.integers(0, len(hot))]
                     if u < INVALID_SHARE + DUP_SHARE + CAP_SHARE
                     else mbid(rng))
                raw, expect = fresh(g)
            batch.append({"gid": g, "submitted": t, "raw": raw,
                          "expect": expect})
        batches.append(batch)
    return batches


def _jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def generate(out, seed, workload):
    """Write every input of one run under ``out``."""
    os.makedirs(out, exist_ok=True)
    centers = corpus_tables(f"{out}/corpus")
    rng = np.random.default_rng(seed)
    if workload == "serve":
        gids, rows = store_docs(rng)
        _jsonl(f"{out}/store_docs.jsonl", rows)
        shutil.copy(os.path.join(HERE, "recall_floors.json"), out)
        counts = {}
        for r in rows:
            counts[r["gid"]] = counts.get(r["gid"], 0) + 1
        _jsonl(f"{out}/requests.jsonl", serve_requests(rng, gids, counts))
        with open(f"{out}/ingest_batches.jsonl", "w") as f:
            for b in ingest_batches(rng):
                f.write(json.dumps(b, sort_keys=True) + "\n")
        write_embeddings(f"{out}/refresh_vecs.parquet", rng, centers,
                         N_VECS, REFRESH_VECS)
        with open(f"{out}/traffic.json", "w") as f:
            json.dump({"batch_interval_s": BATCH_INTERVAL_S}, f)
    elif workload == "analytics":
        manifest = os.path.join(HERE, "analytics_manifest.json")
        shutil.copy(manifest, out)
        with open(manifest) as f:
            names = sorted(json.load(f)["queries"])
        order = [names[i] for i in rng.permutation(len(names))]
        with open(f"{out}/query_order.json", "w") as f:
            json.dump(order, f)
    else:
        raise SystemExit(f"unknown workload {workload}")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
