"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, two seeds write different ones. The engine only
ever sees the files written here.

  ingest          a file feed of (path, content, host, mtime_ms)
                  micro-batches, their delivery order (one block, with
                  a replay), plus a truth table of what each file must
                  turn into (md5, BSI folder time, watched or not)
  vector_serving  a clustered embedding corpus in the TESTDATA
                  `embeddings` schema plus request batches of query
                  vectors (corpus rows + noise, exact duplicates, and
                  vectors far from the corpus)

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed "today" so that inputs depend on the seed alone, never on the
# wall clock: 2026-01-15T00:00:00Z in epoch milliseconds.
TODAY_MS = 1768435200000
DAY_MS = 86_400_000

# One block of deliveries: INGEST_BATCHES distinct batches, one of them
# (seeded) delivered twice in a row. Why 250 files a batch: README.md,
# "Batch size".
INGEST_BATCHES = 5
INGEST_BATCH_FILES = 250
INGEST_BATCH_FOLDERS = 8

# The biz of each of a batch's folders: section names of ingest.ini.
# OTHER.x has no section, so its files are unwatched and must never
# reach the Kafka stand-in.
BATCH_BIZ = ["BSI.f1"] * 3 + ["BSI.f2"] * 2 + ["SPI.f3"] * 2 + ["OTHER.x"]
# folder segment counts of a batch's folders
BATCH_NSEG = [4, 4, 4, 5, 5, 5, 3, 6]
EXTS = [".txt", ".log", ".csv", ".json", ".xml", ".jpg", ".png", ".gz", ".zip", ".tmp"]
EXT_P = [0.30, 0.20, 0.10, 0.10, 0.08, 0.06, 0.05, 0.04, 0.04, 0.03]
WORDS = ("spark batch stream table key value merge sort scan join window "
         "row column part data query filter group hash fast slow big small "
         "line order agg vector test lot wafer probe bin pass fail retry").split()

PARQUET_OPTS = dict(compression="snappy", use_dictionary=False,
                    write_statistics=False)


def _write(table, path):
    pq.write_table(table, path, **PARQUET_OPTS)


def _content(rng, size):
    """ASCII text of exactly `size` bytes drawn from a small vocabulary
    (compressible, like real logs)."""
    n = size // 4 + 2
    words = np.array(WORDS)[rng.integers(0, len(WORDS), n)]
    s = " ".join(words.tolist())
    while len(s) < size:
        s = s + " " + s
    return s[:size]


def _testid(rng, ts_ms):
    secs, ms = divmod(int(ts_ms), 1000)
    t = np.datetime64(secs, "s").astype(object)
    return "T%05d_%s_%03d" % (rng.integers(0, 99999),
                              t.strftime("%Y-%m-%d_%H_%M_%S"), ms)


def gen_ingest(seed, out):
    """INGEST_BATCHES batches of INGEST_BATCH_FILES files each, as
    ingest_<i>.parquet, plus truth.parquet (one row per file) and
    feed.json (the delivery order of one block, with its replay)."""
    rng = np.random.default_rng([seed, 1])
    truth = {k: [] for k in ("path", "md5", "folder_time", "watched",
                             "mtime_ms", "batch", "size")}
    fid = 0
    for b in range(INGEST_BATCHES):
        rows = {"path": [], "content": [], "host": [], "mtime_ms": []}
        # files land in per-test-run folders, several files per folder
        # every batch has the same make-up, in a seeded order: biz
        # shares, one folder for an earlier day, and 4-5 segment folders
        # (valid for BSI) beside 3 and 6 (the plugin's fallback path)
        bizs = rng.permutation(BATCH_BIZ)
        nsegs = rng.permutation(BATCH_NSEG)
        late = rng.integers(0, INGEST_BATCH_FOLDERS)
        folders = []
        for k in range(INGEST_BATCH_FOLDERS):
            day = TODAY_MS - (int(rng.integers(1, 6)) * DAY_MS if k == late else 0)
            folder_ts = day + int(rng.integers(0, DAY_MS - 3_600_000))
            nseg = int(nsegs[k])
            mid = ["L%d_%d" % (j, rng.integers(0, 8)) for j in range(nseg - 2)]
            folders.append((bizs[k], nseg, folder_ts,
                            "/".join([bizs[k]] + mid + [_testid(rng, folder_ts)])))
        which = rng.integers(0, INGEST_BATCH_FOLDERS, INGEST_BATCH_FILES)
        exts = rng.choice(len(EXTS), INGEST_BATCH_FILES, p=EXT_P)
        # lognormal sizes around the 1024-byte gzip threshold
        sizes = np.clip(rng.lognormal(np.log(900), 0.9, INGEST_BATCH_FILES),
                        16, 16384).astype(int)
        for i in range(INGEST_BATCH_FILES):
            biz, nseg, folder_ts, folder = folders[which[i]]
            mtime = folder_ts + int(rng.integers(1000, 3_600_000))
            path = "%s/f%07d%s" % (folder, fid, EXTS[exts[i]])
            fid += 1
            content = _content(rng, int(sizes[i]))
            rows["path"].append(path)
            rows["content"].append(content)
            rows["host"].append("host%02d" % rng.integers(0, 16))
            rows["mtime_ms"].append(mtime)
            is_bsi = biz.startswith("BSI")
            watched = not biz.startswith("OTHER") and EXTS[exts[i]] != ".tmp"
            truth["path"].append(path)
            truth["md5"].append(hashlib.md5(content.encode()).hexdigest())
            truth["folder_time"].append(
                folder_ts if is_bsi and nseg in (4, 5) else mtime)
            truth["watched"].append(watched)
            truth["mtime_ms"].append(mtime)
            truth["batch"].append(b)
            truth["size"].append(len(content))
        _write(pa.table({"path": pa.array(rows["path"], pa.string()),
                         "content": pa.array(rows["content"], pa.string()),
                         "host": pa.array(rows["host"], pa.string()),
                         "mtime_ms": pa.array(rows["mtime_ms"], pa.int64())}),
               os.path.join(out, "ingest_%03d.parquet" % b))
    _write(pa.table({"path": pa.array(truth["path"], pa.string()),
                     "md5": pa.array(truth["md5"], pa.string()),
                     "folder_time": pa.array(truth["folder_time"], pa.int64()),
                     "watched": pa.array(truth["watched"], pa.bool_()),
                     "mtime_ms": pa.array(truth["mtime_ms"], pa.int64()),
                     "batch": pa.array(truth["batch"], pa.int32()),
                     "size": pa.array(truth["size"], pa.int64())}),
           os.path.join(out, "truth.parquet"))
    # delivery order: each batch once, one seeded batch delivered twice in
    # a row (the reference replays a batch after a failed sink); each
    # delivery carries the point-read sample for after its write
    replayed = int(rng.integers(0, INGEST_BATCHES))
    feed = []
    for b in range(INGEST_BATCHES):
        for rep in range(2 if b == replayed else 1):
            sample = sorted(int(x) for x in
                            rng.choice(INGEST_BATCH_FILES, 1, replace=False))
            feed.append({"batch": b, "replay": rep > 0, "readback": sample})
    with open(os.path.join(out, "feed.json"), "w") as f:
        json.dump(feed, f, sort_keys=True)


VEC_N = 2000
VEC_DIM = 64
VEC_CLUSTERS = 24
VEC_REQUESTS = 400
# request sizes: each block of len(VEC_SIZES) requests holds every size
# once, in a seeded order, so any whole number of blocks has the same mix
VEC_SIZES = [1, 2, 4, 8, 12, 16, 24, 32]


def gen_vectors(seed, out):
    """embeddings.parquet (VEC_N x VEC_DIM, clustered) and
    requests.parquet: (req, block, vec_id, embedding, kind) with 1-32
    vectors per request; kind is near (corpus row + noise), dup (a corpus row), or
    far (uniform noise, far from every cluster)."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0, 1, (VEC_CLUSTERS, VEC_DIM))
    label = rng.integers(0, VEC_CLUSTERS, VEC_N)
    emb = (centers[label] + rng.normal(0, 0.35, (VEC_N, VEC_DIM))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(VEC_N, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))}),
        os.path.join(out, "embeddings.parquet"))
    reqs, blocks, ids, vecs, kinds = [], [], [], [], []
    qid = 1_000_000
    sizes = np.concatenate([rng.permutation(VEC_SIZES)
                            for _ in range(VEC_REQUESTS // len(VEC_SIZES))])
    for r, n in enumerate(sizes):
        for _ in range(int(n)):
            u = rng.random()
            src = emb[rng.integers(0, VEC_N)]
            if u < 0.1:
                v, k = src, "dup"
            elif u < 0.15:
                v, k = rng.uniform(-4, 4, VEC_DIM).astype(np.float32), "far"
            else:
                v, k = (src + rng.normal(0, 0.2, VEC_DIM)).astype(np.float32), "near"
            reqs.append(r)
            blocks.append(r // len(VEC_SIZES))
            ids.append(qid)
            vecs.append(v)
            kinds.append(k)
            qid += 1
    _write(pa.table({
        "req": pa.array(np.array(reqs, dtype=np.int32)),
        "block": pa.array(np.array(blocks, dtype=np.int32)),
        "vec_id": pa.array(np.array(ids, dtype=np.int64)),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "kind": pa.array(kinds, pa.string())}),
        os.path.join(out, "requests.parquet"))


GENERATORS = {"ingest": gen_ingest, "vector_serving": gen_vectors}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
