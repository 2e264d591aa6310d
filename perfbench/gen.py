"""Seeded input generators and plain-Python reference checks.

Nothing here imports Spark: the generators write the inputs the engine
reads, and the reference functions compute, from the same generated
events, what the engine's output must be. Every generator takes the
workload seed; the same seed gives byte-identical inputs.

Run as a script, this module is the open-loop publisher of the trickle
phase of ``cdc_trickle_catchup`` (a process separate from the engine):

    python perfbench/gen.py publish SRC_DIR LOG_PATH SEED RATE SECONDS START_AT
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import numpy as np

DATABASE = "mytest"
TABLE = "user"
DESTINATION = "bench"
# Envelopes for these (database, table) pairs must be dropped by routing.
OTHER_TABLES = [("mytest", "orders"), ("other", "user"), ("shop", "cart")]
OTHER_SHARE = 0.2  # share of envelopes for OTHER_TABLES
PK_CHANGE = 0.05   # share of UPDATEs that move the row to another key

DELETED = None  # reference-state marker for a key whose last event deleted it


# --------------------------------------------------------------------------
# Canal-JSON change events
# --------------------------------------------------------------------------

def state_row(key: int, tag: str, rng: random.Random) -> dict:
    """A typed row image: (id, name, balance, pad)."""
    return {
        "id": key,
        "name": f"{tag}_{rng.randrange(1 << 30):x}",
        "balance": round(rng.uniform(0, 10_000), 2),
        "pad": "p" * rng.randrange(8, 40),
    }


def _wire(row: dict) -> dict:
    """Canal delivers every value as a string; repr(float) round-trips
    exactly through the engine's string -> double cast."""
    return {"id": str(row["id"]), "name": row["name"],
            "balance": repr(row["balance"]), "pad": row["pad"]}


def envelope(db: str, table: str, op: str, ts_ms: int, rows: list[dict],
             old: list[dict] | None) -> dict:
    """One Canal flat-message envelope. ``ts`` (and ``es``) carry the
    creation stamp, so the engine's seq order equals creation order."""
    return {
        "destination": DESTINATION, "groupId": "g1", "database": db,
        "table": table, "type": op, "isDdl": False, "sql": None,
        "es": ts_ms, "ts": ts_ms, "data": [_wire(r) for r in rows],
        "old": old, "pkNames": ["id"],
    }


class ChangeGenerator:
    """Seeded I/U/D change events over an integer key domain.

    ``keys`` draws the key of each change: ``"uniform"`` over
    [0, domain) or ``"zipf"`` (exponent 1.1 over a seeded permutation of
    the domain, so hot keys are scattered). A share PK_CHANGE of
    UPDATEs move the row to a fresh key in [domain, 2 * domain); a
    share OTHER_SHARE of envelopes are for OTHER_TABLES."""

    OPS = (("INSERT", 0.2), ("UPDATE", 0.65), ("DELETE", 0.15))

    def __init__(self, seed: int, domain: int, keys: str = "uniform"):
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.domain = domain
        self.zipf_cdf = None
        if keys == "zipf":
            w = 1.0 / np.arange(1, domain + 1, dtype=np.float64) ** 1.1
            self.zipf_cdf = np.cumsum(w / w.sum())
            self.zipf_perm = self.np_rng.permutation(domain)
        elif keys != "uniform":
            raise ValueError(f"unknown key distribution {keys!r}")

    def draw_keys(self, n: int) -> list[int]:
        if self.zipf_cdf is None:
            return [self.rng.randrange(self.domain) for _ in range(n)]
        ranks = np.searchsorted(self.zipf_cdf, self.np_rng.random(n))
        return [int(k) for k in self.zipf_perm[np.minimum(ranks, self.domain - 1)]]

    def draw_op(self) -> str:
        x = self.rng.random()
        for op, p in self.OPS:
            if x < p:
                return op
            x -= p
        return self.OPS[-1][0]

    def envelopes(self, ts_ms: int, n_rows: int, rows_per_env: int,
                  distinct_keys: bool) -> list[tuple[dict, list[tuple]]]:
        """Envelopes holding ``n_rows`` rows in total, each stamped
        ``ts_ms`` (+1 ms per envelope unless ``distinct_keys``, where
        all envelopes share the stamp and no key repeats, so equal seqs
        never meet on one key). Returns (envelope, effects) pairs;
        effects are the routed row-level changes in apply order:
        ("put", key, row) or ("del", key)."""
        out = []
        used: set[int] = set()
        left = n_rows
        step = 0
        while left > 0:
            n = min(rows_per_env, left)
            left -= n
            ts = ts_ms if distinct_keys else ts_ms + step
            step += 1
            op = self.draw_op()
            routed = self.rng.random() >= OTHER_SHARE
            db, table = (DATABASE, TABLE) if routed else self.rng.choice(OTHER_TABLES)
            keys = self.draw_keys(n * 3 if distinct_keys else n)
            if distinct_keys:
                keys = [k for k in dict.fromkeys(keys) if k not in used][:n]
            rows, old, effects = [], [], []
            for k in keys:
                row = state_row(k, f"e{ts}", self.rng)
                if op == "UPDATE" and self.rng.random() < PK_CHANGE:
                    new = self.domain + self.rng.randrange(self.domain)
                    if distinct_keys and new in used:
                        new = k  # keep keys distinct within the file
                    if new != k:
                        row["id"] = new
                        old.append({"id": str(k)})
                        effects.append(("del", k))
                        effects.append(("put", new, row))
                        used.update((k, new))
                        rows.append(row)
                        continue
                old.append({"balance": "0.0"} if op == "UPDATE" else {})
                effects.append(("del", k) if op == "DELETE" else ("put", k, row))
                used.add(k)
                rows.append(row)
            if not rows:
                continue
            env = envelope(db, table, op, ts, rows, old if op == "UPDATE" else None)
            out.append((env, effects if routed else []))
        return out


def write_atomic(path: str, text: str) -> None:
    """Publish a file so a concurrent directory listing never sees it
    half-written: write a hidden temp name (the file source skips
    names starting with '.'), then rename into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.rename(tmp, path)


def render(envs: list[tuple[dict, list]]) -> str:
    return "".join(json.dumps(e, separators=(",", ":")) + "\n" for e, _ in envs)


# --------------------------------------------------------------------------
# trickle: open-loop publisher process
# --------------------------------------------------------------------------

TRICKLE_ROWS_PER_FILE = 10
TRICKLE_DOMAIN = 20_000


def trickle_file(gen: ChangeGenerator, ts_ms: int) -> list[tuple[dict, list]]:
    """~10 rows in 1-3 envelopes, keys distinct within the file."""
    per_env = gen.rng.choice((4, 5, 10))
    return gen.envelopes(ts_ms, TRICKLE_ROWS_PER_FILE, per_env, distinct_keys=True)


def publish(src: str, log_path: str, seed: int, rate: float, seconds: float,
            start_at: float) -> None:
    """Publish file i at wall time start_at + i / rate, stamped with its
    DUE time (so a late generator shows as lag, not as a shorter
    queue), until ``seconds`` have passed. Writes one JSON line per file
    to ``log_path`` at the end: name, due_ms, late_ms, routed effects."""
    gen = ChangeGenerator(seed, TRICKLE_DOMAIN, "uniform")
    n_files = int(seconds * rate)
    log = []
    last_ms = 0
    for i in range(n_files):
        due = start_at + i / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        due_ms = max(int(due * 1000), last_ms + 1)  # strictly increasing stamps
        last_ms = due_ms
        envs = trickle_file(gen, due_ms)
        name = f"f{i:06d}.json"
        write_atomic(os.path.join(src, name), render(envs))
        late = (time.time() - due) * 1000.0
        log.append({"name": name, "due_ms": due_ms, "late_ms": late,
                    "rows": sum(len(e["data"]) for e, _ in envs),
                    "effects": [x for _, eff in envs for x in eff]})
    with open(log_path + ".tmp", "w", encoding="utf-8") as f:
        for rec in log:
            f.write(json.dumps(rec) + "\n")
    os.rename(log_path + ".tmp", log_path)


def read_publish_log(log_path: str) -> list[dict]:
    with open(log_path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


# --------------------------------------------------------------------------
# catch-up: pre-written backlog over an ETL-bootstrapped state
# --------------------------------------------------------------------------

def bootstrap_value(key: int, seed: int) -> tuple[str, float, str]:
    """The generated source table's (name, balance, pad) for ``key`` —
    mirrored exactly by the Spark expression that writes the table
    (workloads.bootstrap_source)."""
    return (f"n{key}_{seed}", ((key * 7919 + seed) % 100003) / 100.0,
            "q" * (key % 23 + 8))


BACKLOG_START_MS = 1_760_000_000_000  # creation stamp of the first backlog envelope


def write_backlog(src: str, seed: int, domain: int, n_files: int,
                  rows_per_file: int, rows_per_env: int) -> list[list]:
    """Pre-write ``n_files`` change files of ``rows_per_file`` rows with
    Zipf-skewed keys over [0, domain); returns the routed effects per
    file in apply order."""
    gen = ChangeGenerator(seed, domain, "zipf")
    ts = BACKLOG_START_MS
    effects = []
    for i in range(n_files):
        envs = gen.envelopes(ts, rows_per_file, rows_per_env, distinct_keys=False)
        ts += len(envs) + 1
        write_atomic(os.path.join(src, f"b{i:04d}.json"), render(envs))
        effects.append([x for _, eff in envs for x in eff])
        # distinct mtimes keep the file source's listing order = write order
        time.sleep(0.01)
    return effects


def fold(effects) -> dict:
    """Plain-Python reference fold of routed changes in apply order:
    last writer wins, deletes remove, a PK move deletes the old key.
    Returns {key: row dict | DELETED} for every touched key."""
    out: dict = {}
    for eff in effects:
        if eff[0] == "put":
            out[eff[1]] = eff[2]
        else:
            out[eff[1]] = DELETED
    return out


# --------------------------------------------------------------------------
# corpus_dedup: documents with planted near-duplicate clusters
# --------------------------------------------------------------------------

N_BOILERPLATE = 40
CHUNK = 8  # boilerplate_strip's chunk size, tokens
DUP_SHARE = 0.3  # share of clusters (documents or vectors) that are planted duplicates
EMBED_DIM = 64


def _words(rng: random.Random, n: int) -> list[str]:
    stop = ["the", "a", "of", "and", "to", "in", "is", "it"]
    return [rng.choice(stop) if rng.random() < 0.25 else f"w{rng.randrange(50_000)}"
            for _ in range(n)]


def make_corpus(seed: int, n_docs: int):
    """Documents of one 8-token boilerplate header chunk, six core
    chunks and one boilerplate footer chunk. Header/footer come from a
    pool of 40 each, so every boilerplate chunk sits in far more than
    ``max_df`` documents and is stripped. Members of a planted cluster
    (2-5 docs) share their core except one token replaced by a
    per-member e-mail (or, per cluster, IPv4) literal; after
    boilerplate_strip and pii_scrub the members are identical, while
    unrelated documents have a 4-shingle Jaccard near 0. Returns (rows, clusters): rows are
    (doc_id, text) and clusters the planted id sets."""
    rng = random.Random(seed * 7 + 1)
    header = [" ".join(_words(rng, CHUNK)) for _ in range(N_BOILERPLATE)]
    footer = [" ".join(_words(rng, CHUNK)) for _ in range(N_BOILERPLATE)]
    rows: list[tuple[int, str]] = []
    clusters: list[list[int]] = []
    ids = rng.sample(range(1, 1 << 40), n_docs)
    i = 0
    while i < n_docs:
        size = rng.randint(2, 5) if rng.random() < DUP_SHARE else 1
        size = min(size, n_docs - i)
        core = _words(rng, 6 * CHUNK)
        pii_pos = rng.randrange(len(core))
        email = rng.random() < 0.5
        members = []
        for _ in range(size):
            toks = list(core)
            if size > 1:
                toks[pii_pos] = (f"u{rng.randrange(10**6)}@mail{rng.randrange(99)}.com"
                                 if email else
                                 ".".join(str(rng.randrange(256)) for _ in range(4)))
            doc_id = ids[i]
            text = " ".join([header[i % N_BOILERPLATE], *toks,
                             footer[(i * 7) % N_BOILERPLATE]])
            rows.append((doc_id, text))
            members.append(doc_id)
            i += 1
        if size > 1:
            clusters.append(sorted(members))
    return rows, clusters


def _is_pii(tok: str) -> bool:
    return "@" in tok or tok.count(".") == 3


def make_arrivals(seed: int, rows, clusters, n_docs: int):
    """Documents that arrive after the corpus is deduplicated. Half are
    re-crawls of a random corpus document: its core chunks without the
    boilerplate, with any PII literal drawn anew, so after pii_scrub
    they equal the corpus cluster's canonical (min-id) member. The rest
    are fresh cores that match nothing. Returns (rows, pairs): rows are
    (doc_id, text) in arrival order and pairs the (new id, kept id)
    matches minhash_lsh_incremental must find."""
    rng = random.Random(seed * 13 + 5)
    canonical = {m: c[0] for c in clusters for m in c}
    out: list[tuple[int, str]] = []
    pairs: set[tuple[int, int]] = set()
    for i in range(n_docs):
        doc_id = (1 << 41) + i  # corpus ids are below 2**40
        if rng.random() < 0.5:
            src, text = rows[rng.randrange(len(rows))]
            core = text.split(" ")[CHUNK:-CHUNK]
            core = [f"u{rng.randrange(10**6)}@mail{rng.randrange(99)}.com" if "@" in t
                    else ".".join(str(rng.randrange(256)) for _ in range(4)) if _is_pii(t)
                    else t for t in core]
            pairs.add((doc_id, canonical.get(src, src)))
        else:
            core = _words(rng, 6 * CHUNK)
        out.append((doc_id, " ".join(core)))
    return out, pairs


def make_embeddings(seed: int, n_vecs: int):
    """Gaussian vectors; planted near-neighbour clusters (2-4 members)
    are positive rescalings of one base plus 1e-3 relative noise
    (cosine > 0.99999), while unrelated dim-64 Gaussians stay far below
    the 0.9 threshold. Returns (ids, float32 matrix, planted pairs)."""
    rng = np.random.default_rng(seed * 11 + 3)
    vecs = np.empty((n_vecs, EMBED_DIM), dtype=np.float32)
    pairs: set[tuple[int, int]] = set()
    ids = np.arange(n_vecs, dtype=np.int64)
    i = 0
    while i < n_vecs:
        size = int(rng.integers(2, 5)) if rng.random() < DUP_SHARE else 1
        size = min(size, n_vecs - i)
        base = rng.standard_normal(EMBED_DIM)
        for j in range(size):
            noise = (rng.standard_normal(EMBED_DIM) * 1e-3 * np.linalg.norm(base)
                     / np.sqrt(EMBED_DIM))
            vecs[i + j] = base * rng.uniform(0.5, 2.0) + (noise if j else 0)
        for a in range(i, i + size):
            for b in range(a + 1, i + size):
                pairs.add((a, b))
        i += size
    return ids, vecs, pairs


def cosine_pairs_reference(vecs: np.ndarray, pairs, threshold: float):
    """The planted pairs whose float64 cosine clears ``threshold``."""
    v = vecs.astype(np.float64)
    nrm = np.linalg.norm(v, axis=1)
    return {(a, b) for a, b in pairs
            if float(v[a] @ v[b]) / (nrm[a] * nrm[b]) >= threshold}


def expected_kept(rows, clusters) -> set[int]:
    """keep_canonical's output ids: every doc except the non-minimum
    members of each planted cluster."""
    victims = {m for c in clusters for m in c[1:]}
    return {d for d, _ in rows} - victims


if __name__ == "__main__":
    if len(sys.argv) != 8 or sys.argv[1] != "publish":
        sys.exit(__doc__)
    publish(sys.argv[2], sys.argv[3], int(sys.argv[4]), float(sys.argv[5]),
            float(sys.argv[6]), float(sys.argv[7]))
