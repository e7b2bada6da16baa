"""Seeded input generator and ground truth for the two workloads.

Every input the engine sees is a file written from these objects, and
every object is a pure function of (seed, size): the same seed gives
byte-identical files. The ground truth the output checks compare
against is computed here, in plain Python, never by the engine.
"""

from __future__ import annotations

import hashlib
import os
import random
import re

import numpy as np

from dbitool_spark import testrow


def row_digest(values) -> int:
    """64-bit digest of one output row (None-safe, type-blind: the
    value's str() is what is hashed, so an int read back from JSON and
    the same int from parquet digest alike)."""
    text = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def multiset_hash(rows) -> int:
    """Order-insensitive hash of a row multiset: sum of row digests
    mod 2**64 (a duplicated or dropped row changes it)."""
    return sum(row_digest(r) for r in rows) % (1 << 64)


# --------------------------------------------------------------------------
# llm_curation: corpus with planted duplicates + clustered embeddings
# --------------------------------------------------------------------------

STOPWORDS = ("the", "and", "of", "to", "is", "in", "that", "it", "with", "for")
DOC_WORDS = 60
SHINGLE_K = 3
NEAR_DUP_THRESHOLD = 0.7
EMB_DIM = 64  # lsh_topk's default dimension
CLUSTER_SIZE = 20
TOP_K = 10


def shingle_set(text: str, k: int = SHINGLE_K) -> frozenset:
    """Python twin of ops.dedup.shingles: distinct word k-grams of the
    lowercased, whitespace-split text (the whole text when < k words)."""
    words = re.split(r"\s+", text.strip().lower())
    if len(words) < k:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[i : i + k]) for i in range(len(words) - k + 1))


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def _markup(words: list[str], rng: random.Random) -> str:
    """Wrap clean words in boilerplate whose stripping (script/style/
    comment removal, tags -> space, whitespace collapse) gives back
    exactly ' '.join(words)."""
    cut = sorted(rng.sample(range(1, len(words)), 3))
    parts = [words[a:b] for a, b in zip([0] + cut, cut + [len(words)])]
    body = "".join(f"<p class=\"c{i}\">{' '.join(p)}</p>\n" for i, p in enumerate(parts))
    return (
        "<html><head><style>p { margin: 0 }</style>"
        "<script>var seen = 1 < 2;</script></head><body>"
        f"<!-- generated -->\n{body}</body></html>"
    )


class CurationInputs:
    """Documents of DOC_WORDS words. Bases are unique, exact-dup
    groups (identical clean text; some copies wrapped in markup so
    they match only after stripping) or near-dup groups (copies with
    2-3 words replaced, far from each other, so word-3-shingle Jaccard
    sits at a known 0.73-0.81). A share of all documents carries
    markup. Doc ids are shuffled so a group's minimum id — the
    representative dedup_keep_representative keeps — is any member.

    Embeddings: unit vectors in planted clusters; queries are corpus
    vectors; the exact cosine top-k (self excluded) is computed here."""

    def __init__(
        self,
        seed: int,
        n_bases: int,
        *,
        n_vectors: int,
        n_queries: int,
    ):
        rng = random.Random(seed)
        vocab = sorted({"".join(rng.choice("bcdfghjklmnprstvwz") + rng.choice("aeiou") for _ in range(3)) for _ in range(30000)})

        def words() -> list[str]:
            return [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(DOC_WORDS)]

        docs: list[list[str]] = []  # clean words per generated doc
        self.exact_groups: list[list[int]] = []
        self.near_groups: list[list[int]] = []
        groups: list[list[int]] = []
        for _ in range(n_bases):
            base = words()
            kind = rng.random()
            members = [len(docs)]
            docs.append(base)
            if kind < 0.12:
                for _ in range(rng.randint(1, 3)):
                    members.append(len(docs))
                    docs.append(list(base))
            elif kind < 0.24:
                for _ in range(rng.randint(1, 2)):
                    copy = list(base)
                    first = rng.randrange(0, 8)
                    for pos in range(first, DOC_WORDS, rng.choice((20, 27))):
                        copy[pos] = rng.choice(vocab) + "q"
                    members.append(len(docs))
                    docs.append(copy)
            groups.append(members)
            if len(members) > 1:
                (self.exact_groups if kind < 0.12 else self.near_groups).append(members)

        ids = list(range(len(docs)))
        rng.shuffle(ids)  # ids[i] = doc_id of generated doc i
        self.doc_rows: list[tuple[int, str]] = []
        self.clean: dict[int, str] = {}
        self.markup_docs = 0
        for i, w in enumerate(docs):
            clean = " ".join(w)
            raw = clean
            if rng.random() < 0.25:
                raw = _markup(w, rng)
                self.markup_docs += 1
            self.clean[ids[i]] = clean
            self.doc_rows.append((ids[i], raw))
        self.groups = [sorted(ids[m] for m in g) for g in groups]
        self.exact_groups = [sorted(ids[m] for m in g) for g in self.exact_groups]
        self.near_groups = [sorted(ids[m] for m in g) for g in self.near_groups]
        self.group_of = {d: gi for gi, g in enumerate(self.groups) for d in g}
        self.planted_pairs = {
            (a, b)
            for g in self.near_groups
            for i, a in enumerate(g)
            for b in g[i + 1 :]
            if jaccard(self.clean[a], self.clean[b]) >= NEAR_DUP_THRESHOLD
        }
        self.n_docs = len(docs)

        # embeddings with planted clusters
        nrng = np.random.default_rng(seed)
        n_clusters = max(1, n_vectors // CLUSTER_SIZE)
        centroids = nrng.standard_normal((n_clusters, EMB_DIM))
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
        assign = np.arange(n_vectors) % n_clusters
        vecs = centroids[assign] + 0.35 * nrng.standard_normal((n_vectors, EMB_DIM)) / np.sqrt(EMB_DIM)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        self.vectors = np.round(vecs, 6)
        self.query_ids = sorted(nrng.choice(n_vectors, size=n_queries, replace=False).tolist())
        unit = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        sims = unit[self.query_ids] @ unit.T
        sims[np.arange(n_queries), self.query_ids] = -np.inf
        top = np.argsort(-sims, axis=1, kind="stable")[:, :TOP_K]
        self.k = TOP_K
        self.exact_topk = {q: set(top[i].tolist()) for i, q in enumerate(self.query_ids)}

    def write(self, root: str) -> dict[str, str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(root, exist_ok=True)
        paths = {
            "corpus": os.path.join(root, "corpus.parquet"),
            "vectors": os.path.join(root, "vectors.parquet"),
            "queries": os.path.join(root, "queries.parquet"),
        }
        ids, texts = zip(*self.doc_rows)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text_raw": list(texts)}), paths["corpus"])
        emb = pa.array(self.vectors.tolist(), pa.list_(pa.float64()))
        pq.write_table(pa.table({"vec_id": pa.array(range(len(self.vectors)), pa.int64()), "embedding": emb}), paths["vectors"])
        qemb = pa.array(self.vectors[self.query_ids].tolist(), pa.list_(pa.float64()))
        pq.write_table(pa.table({"vec_id": pa.array(self.query_ids, pa.int64()), "embedding": qemb}), paths["queries"])
        return paths


# --------------------------------------------------------------------------
# etl_ingest: keyed event batches as CSV with planted malformed lines,
# a shard -> region dimension, merge batches and probe keys
# --------------------------------------------------------------------------

CSV_COLUMNS = ("k", "seq", "val", "payload", "total", "shard", "note")
CSV_SCHEMA = "k bigint, seq bigint, val bigint, payload string, total bigint, shard int, note string"
DIM_SCHEMA = "shard int, region string"
N_SHARDS = 64
TABLE_COLUMNS = ("k", "seq", "val", "payload", "total", "region")
TABLE_SCHEMA = "k bigint, seq bigint, val bigint, payload string, total bigint, region string"
COMBINE = {"total": "sum", "seq": "max"}
BAD_SHARE = 0.005  # malformed lines per batch
UPDATE_SHARE = 0.7  # rows on existing keys; the rest insert fresh keys
ZIPF_S = 1.1
_NEW_KEY_BASE = 1 << 40


class IngestInputs:
    """Keyed events. Event batch i has batch_rows rows, UPDATE_SHARE of
    them on keys drawn Zipf(ZIPF_S) over a seed-permuted ranking of
    n_keys keys (hot keys repeat inside a batch), the rest inserts of
    fresh keys. A batch arrives as
    '|'-separated CSV whose payload is a TestRow uuencode value
    (punctuation-heavy, never '|'), with a planted share of lines whose
    seq does not parse. The region comes from a shard dimension that
    covers 48 of the 64 shards, so some rows carry no region. Merge
    batches hold one row per key. Everything derives from (seed,
    index), so batches can be drawn on demand in any number."""

    def __init__(
        self,
        seed: int,
        *,
        n_keys: int,
        batch_rows: int,
        merge_rows: int,
        probes: int,
    ):
        self.seed = seed
        self.batch_rows = batch_rows
        self.merge_rows = merge_rows
        self.n_probes = probes
        rng = np.random.default_rng([seed, 0])
        shards = sorted(int(x) for x in rng.choice(N_SHARDS, size=48, replace=False))
        self.dim = {sh: f"region-{sh:02d}-{int(rng.integers(1000)):03d}" for sh in shards}
        self.dim_csv = "shard|region\n" + "".join(f"{sh}|{r}\n" for sh, r in self.dim.items())
        self.keys = rng.permutation(np.arange(1, n_keys + 1, dtype=np.int64) * 7919)
        w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
        self.p = w / w.sum()

    def _row(self, k: int, seq: int, rng) -> tuple:
        v = int(rng.integers(0, 1 << 30))
        return (k, seq, v, testrow.row(v)[6], int(rng.integers(1, 100)), self.dim.get(k % N_SHARDS))

    def _seq(self, i: int, j: int) -> int:
        # strictly increasing over (batch index, position): each event
        # batch, then its merge batch
        return i * (self.batch_rows + 2 * self.merge_rows) + j

    def batch(self, i: int) -> tuple[str, list[tuple], int]:
        """Event batch i: (CSV text, the good rows in TABLE_COLUMNS
        order, number of malformed lines). Keys may repeat."""
        rng = np.random.default_rng([self.seed, 1, i])
        n_upd = int(self.batch_rows * UPDATE_SHARE)
        upd = self.keys[rng.choice(len(self.keys), size=n_upd, p=self.p)]
        new = _NEW_KEY_BASE + i * self.batch_rows + np.arange(self.batch_rows - n_upd)
        ks = np.concatenate([upd, new])
        rng.shuffle(ks)
        rows = [self._row(int(k), self._seq(i, j), rng) for j, k in enumerate(ks)]
        n_bad = max(1, int(len(rows) * BAD_SHARE))
        bad_at = set(rng.choice(len(rows), size=n_bad, replace=False).tolist())
        lines = ["|".join(CSV_COLUMNS)]
        for j, r in enumerate(rows):
            fields = [str(r[0]), str(r[1]), str(r[2]), r[3], str(r[4]), str(r[0] % N_SHARDS), f"n{i}.{j}"]
            if j in bad_at:
                # a non-integer seq: PERMISSIVE parsing must route the
                # whole line to the error stream
                fields[1] = f"x{fields[1]}?"
            lines.append("|".join(fields))
        good = [r for j, r in enumerate(rows) if j not in bad_at]
        return "\n".join(lines) + "\n", good, n_bad

    def merge_batch(self, i: int) -> list[tuple]:
        """Merge batch i: distinct keys (hot existing keys plus some
        keys inserted by event batch i), one row per key."""
        rng = np.random.default_rng([self.seed, 2, i])
        hot = self.keys[rng.choice(len(self.keys), size=self.merge_rows, p=self.p)]
        fresh = _NEW_KEY_BASE + i * self.batch_rows + np.arange(self.merge_rows // 10)
        ks = list(dict.fromkeys(int(k) for k in np.concatenate([hot, fresh])))
        base = self._seq(i, self.batch_rows)
        return [self._row(k, base + j, rng) for j, k in enumerate(ks)]

    def probe_keys(self, i: int) -> list[int]:
        """Probe keys before batch i: hot keys, cold keys, and keys
        that were never written."""
        rng = np.random.default_rng([self.seed, 3, i])
        hot = self.keys[: self.n_probes // 2]
        cold = self.keys[rng.choice(len(self.keys), size=self.n_probes // 4)]
        missing = [_NEW_KEY_BASE - 1 - int(x) for x in rng.integers(0, 1 << 20, size=self.n_probes // 4)]
        return sorted({int(k) for k in hot} | {int(k) for k in cold} | set(missing))


class TableModel:
    """Pure-Python last-write-wins + merge model of the ndb table."""

    def __init__(self, rows=()):
        self.state: dict[int, tuple] = {}
        self.upsert(rows)

    def upsert(self, rows) -> None:
        # a later batch beats the state; inside a batch the highest seq wins
        latest: dict[int, tuple] = {}
        for r in rows:
            if r[0] not in latest or r[1] > latest[r[0]][1]:
                latest[r[0]] = r
        self.state.update(latest)

    def merge(self, rows) -> None:
        """COMBINE rules: total sums, seq takes the max, the other
        columns take the batch value unless it is NULL."""
        for r in rows:
            old = self.state.get(r[0])
            if old is None:
                self.state[r[0]] = r
            else:
                last = [n if n is not None else o for n, o in zip(r, old)]
                self.state[r[0]] = (r[0], max(r[1], old[1]), last[2], last[3], r[4] + old[4], last[5])

    def lookup(self, keys) -> dict[int, tuple | None]:
        return {k: self.state.get(k) for k in keys}

    def hash(self) -> int:
        return multiset_hash(self.state.values())
