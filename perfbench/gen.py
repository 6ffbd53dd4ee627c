"""Seeded input generators for the benchmark.

Everything the program under test sees is produced here from `--seed`:

* the fleet: per-tick JMX payloads of a 1,000-node Trino cluster plus the
  coordinator's QueryManager and ClusterSizeMonitor payloads, cycling
  through hot, mid, cold, idle, draining and required-workers-hint phases,
  with about 3% blank and 1% malformed payloads;
* the corpus: `documents` and `embeddings` parquet tables with the shape
  and recipe of the sf0.1 fixtures (30-word vocabulary, 10-100 tokens per
  document, 5% near-duplicates carrying a trailing "dup", a few verbatim
  copies, `source = src<doc_id % 20>`, unit-norm 64-d float embeddings for
  the first 40% of documents).

`digest()` hashes the generated content, so one seed always gives the same
digest and two seeds give different ones (`python3 perfbench/gen.py
--self-check`).
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NODES = 1000
FLEET_TICKS = 120
PHASES = ["hot", "mid", "cold", "idle", "draining", "hint"]
BLANK_SHARE = 0.03
MALFORMED_SHARE = 0.01
# cpu band per phase for the ~92% of nodes that follow the phase; the rest
# are uniform stragglers. Values sit on a 1/1024 grid so every 4-sample sum
# is exact in binary and the window mean cannot depend on summation order.
CPU_BAND = {"hot": (0.72, 0.99), "mid": (0.52, 0.68), "cold": (0.02, 0.45),
            "idle": (0.0, 0.08), "draining": (0.05, 0.40), "hint": (0.52, 0.68)}
MALFORMED = [
    '{"attributes": [{"name": "ProcessCpuLoad", "val',
    '<html><body>502 Bad Gateway</body></html>',
    '{"attrs": [{"name": "ProcessCpuLoad", "value": 0.5}]}',
    '{"attributes": [{"name": "AvailableProcessors", "value": 16}]}',
    '{"attributes": null}',
]

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


NODE_PAYLOAD = ('{{"attributes": [{{"name": "ProcessCpuLoad", "value": {!r}}}, '
                '{{"name": "AvailableProcessors", "value": {}}}, '
                '{{"name": "SystemCpuLoad", "value": {!r}}}]}}')


def _mbean(attrs):
    return json.dumps({"attributes": [{"name": k, "value": v} for k, v in attrs]})


def _degrade(rng, payload):
    """About 3% blank and 1% malformed, decided per payload."""
    u = rng.random()
    if u < BLANK_SHARE:
        return ""
    if u < BLANK_SHARE + MALFORMED_SHARE:
        return MALFORMED[rng.integers(len(MALFORMED))]
    return payload


def fleet(seed, ticks=FLEET_TICKS):
    """Returns (node_lines, coord_lines) as tab-separated text lines.

    node line:  tick, node, payload, truth
    coord line: tick, phase, query-stats payload, truth, required-workers
                payload, truth

    A truth column holds what the payload says, or is empty (node, query
    stats) or 0 (required workers) when the payload is blank or malformed
    and must not count as a reading.
    """
    rng = np.random.default_rng([seed, 1])
    schedule = []
    while len(schedule) < ticks:
        for p in rng.permutation(PHASES):
            schedule += [str(p)] * int(rng.integers(4, 8))
    schedule = schedule[:ticks]
    names = [f"10.0.{i // 250}.{i % 250}" for i in range(NODES)]
    cores = rng.choice([8, 16, 32], size=NODES)
    node_lines, coord_lines = [], []
    for t, phase in enumerate(schedule):
        lo, hi = CPU_BAND[phase]
        follow = rng.random(NODES) < 0.92
        cpu = np.where(follow, rng.uniform(lo, hi, NODES), rng.uniform(0.0, 1.0, NODES))
        cpu_k = np.clip(np.round(cpu * 1024), 0, 1024).astype(int)
        sys_k = np.clip(cpu_k + rng.integers(0, 64, NODES), 0, 1024)
        degrade = rng.random(NODES)
        pick = rng.integers(0, len(MALFORMED), NODES)
        for i in range(NODES):
            if degrade[i] < BLANK_SHARE:
                p, truth = "", ""
            elif degrade[i] < BLANK_SHARE + MALFORMED_SHARE:
                p, truth = MALFORMED[pick[i]], ""
            else:
                p = NODE_PAYLOAD.format(cpu_k[i] / 1024, cores[i], sys_k[i] / 1024)
                truth = repr(cpu_k[i] / 1024)
            node_lines.append(f"{t}\t{names[i]}\t{p}\t{truth}")
        if phase in ("idle", "draining"):
            running, queued = 0, 0
        else:
            running, queued = int(rng.integers(1, 40)), int(rng.integers(0, 8))
        if phase == "idle":
            counters = [0.0] * 5
        else:
            counters = [float(rng.integers(1, 400)) / 4 for _ in range(5)]
        activity = [running, queued] + counters + [counters[3] / 4]
        qs = _mbean(zip(["RunningQueries", "QueuedQueries",
                         "AbandonedQueries.FiveMinute.Count",
                         "CanceledQueries.FiveMinute.Count",
                         "CompletedQueries.FiveMinute.Count",
                         "FailedQueries.FiveMinute.Count",
                         "SubmittedQueries.FiveMinute.Count",
                         "FailedQueries.OneMinute.Count"], activity))
        qs_sent = _degrade(rng, qs)
        qs_truth = ",".join(map(repr, activity)) if qs_sent == qs else ""
        required = int(rng.integers(25, 41)) if phase == "hint" else 0
        req = _mbean([("RequiredWorkers", required)])
        req_sent = _degrade(rng, req)
        req_truth = required if req_sent == req else 0
        coord_lines.append(f"{t}\t{phase}\t{qs_sent}\t{qs_truth}\t{req_sent}\t{req_truth}")
    return node_lines, coord_lines


def _text(rng, n_tokens):
    return " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_tokens))


def corpus(seed, n_docs):
    """Returns {"documents", "embeddings"} as pyarrow tables."""
    rng = np.random.default_rng([seed, 2])
    texts = [_text(rng, int(rng.integers(10, 101))) for _ in range(n_docs)]
    # 5% near-duplicates (another document's text plus " dup"), then a few
    # verbatim copies — the sf0.1 recipe
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(n_docs))] + " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.002):
        texts[i] = texts[int(rng.integers(n_docs))]
    ids = np.arange(n_docs, dtype=np.int64)
    documents = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_vec = int(n_docs * 0.4)
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return {"documents": documents, "embeddings": embeddings}


def digest(node_lines, coord_lines, tables):
    h = hashlib.sha256()
    for line in node_lines + coord_lines:
        h.update(line.encode())
        h.update(b"\n")
    for name in sorted(tables):
        h.update(name.encode())
        for col in tables[name].columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def generate(seed, out_dir, n_docs, with_fleet):
    """Writes the inputs for one seed into `out_dir`; returns the digest."""
    os.makedirs(out_dir, exist_ok=True)
    node_lines, coord_lines = fleet(seed) if with_fleet else ([], [])
    if with_fleet:
        with open(os.path.join(out_dir, "fleet_nodes.tsv"), "w") as f:
            f.write("\n".join(node_lines) + "\n")
        with open(os.path.join(out_dir, "fleet_coord.tsv"), "w") as f:
            f.write("\n".join(coord_lines) + "\n")
    tables = corpus(seed, n_docs) if n_docs else {}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return digest(node_lines, coord_lines, tables)


def self_check():
    """One seed gives one digest; two seeds give two."""
    a1 = digest(*fleet(1, 24), corpus(1, 300))
    a2 = digest(*fleet(1, 24), corpus(1, 300))
    b = digest(*fleet(2, 24), corpus(2, 300))
    ok = a1 == a2 and a1 != b
    print(json.dumps({"same_seed_equal": a1 == a2, "two_seeds_differ": a1 != b,
                      "digest_seed1": a1, "digest_seed2": b}))
    return ok


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if args.self_check:
        sys.exit(0 if self_check() else 1)
    ap.print_help()
