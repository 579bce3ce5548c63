"""Seeded input generator for the graft benchmark workloads.

Each workload's inputs are written under one directory as plain files the
harness reads (TSV text tables, little-endian binary vector tables) plus
`params.txt` (key=value, read by the JVM) and `manifest.json` (sizes,
planted-duplicate counts and file digests, echoed in the run output).
The same seed gives byte-identical files; a directory whose manifest
matches the seed and generator version is reused.

The tables mimic the shape of the sf0.1 `documents` and `embeddings`
tables (31-word vocabulary, 10-100 words per document, five languages,
twenty sources; unit-norm 64-d float vectors with labels 0-9).
"""
import hashlib
import json
import os

import numpy as np

GEN_VERSION = 3
DIM = 64
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EXTS = ["txt", "md", "py"]
# the update comes early in the cycle so a 15 s window holds three
RAG_CYCLE = ["query", "update", "query", "filtered", "query", "sections", "query",
             "filtered", "query", "query"]
# serve_cdc reader kinds: 0 top-k, 1 top-k with a label filter, 2 list by
# label, 3 get item (70 / 20 / 5 / 5 %)
SERVE_CYCLE = [0, 1, 0, 0, 0, 1, 0, 2, 0, 0, 1, 0, 0, 0, 3, 0, 1, 0, 0, 0]

# Workload sizes. Every run of a workload uses these; the seed only
# changes the contents.
SIZES = {
    "rag_docs": {"base_docs": 1200, "docs": 2400, "ingest_batches": 6,
                 "ops": 2000, "update_docs": 50},
    "serve_cdc": {"base_vecs": 2000, "replicas": 10, "queries": 40000,
                  "batches": 120, "batch_size": 500, "interval_s": 5.0},
    "curate_batch": {"base_docs": 4000, "doc_replicas": 2, "base_vecs": 2000,
                     "vec_replicas": 4, "exact_frac": 0.05, "near_frac": 0.05,
                     "twin_frac": 0.02},
}
WORKLOADS = list(SIZES)


def _rng(seed, workload):
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _base_docs(rng, n):
    """(words, lang, source) rows shaped like sf0.1 `documents`."""
    lens = rng.integers(10, 101, size=n)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    out = []
    for i in range(n):
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=lens[i])]
        out.append((words, LANGS[langs[i]], "src%d" % (i % N_SOURCES)))
    return out


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _jitter(rng, v, noise_norm):
    """Unit vectors near `v`: add isotropic noise of about `noise_norm`, renormalize."""
    noise = rng.standard_normal(v.shape) * (noise_norm / np.sqrt(DIM))
    return _unit(v.astype(np.float64) + noise)


def _layout(rng, words, ext):
    """Break a word list into lines; code/markdown extensions get the
    line prefixes their doc-type separator tables split on."""
    lines, i = [], 0
    while i < len(words):
        n = int(rng.integers(6, 13))
        lines.append(" ".join(words[i:i + n]))
        i += n
    for j in range(len(lines)):
        if ext == "py" and rng.random() < 0.3:
            lines[j] = ("def " if rng.random() < 0.7 else "class ") + lines[j]
        elif ext == "md" and (j == 0 or rng.random() < 0.2):
            lines[j] = ("# " if j == 0 else "## ") + lines[j]
    return "\n".join(lines)


def _esc(text):
    return text.replace("\\", "\\\\").replace("\t", " ").replace("\n", "\\n")


def _write_tsv(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write("\t".join(_esc(str(x)) for x in r) + "\n")


def _distinct_texts(rng, n):
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(1, 5))
        t = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k))
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def gen_rag_docs(rng, out, s):
    base = _base_docs(rng, s["base_docs"])
    docs = []
    for i in range(s["docs"]):
        words, lang, source = base[i % len(base)]
        words = [words[j] for j in rng.permutation(len(words))]
        ext = EXTS[int(rng.integers(0, len(EXTS)))]
        docs.append((i, "corpus/d%06d.%s" % (i, ext), lang, source, _layout(rng, words, ext)))
    _write_tsv(os.path.join(out, "docs.tsv"), docs)
    # op stream: a fixed cycle of kinds, so every seed runs the same mix
    # (reads 70% query, 20% filtered query, 10% sections, plus one update
    # per ten ops); the seed picks the texts, filters and updated
    # documents. All query texts are distinct.
    n_ops = s["ops"]
    texts = _distinct_texts(rng, n_ops)
    ops, n_upd = [], 0
    for k in range(n_ops):
        kind = RAG_CYCLE[k % len(RAG_CYCLE)]
        if kind == "update":
            ops.append((k, "update", n_upd, "", ""))
            n_upd += 1
        elif kind == "filtered" and rng.random() < 0.5:
            ops.append((k, kind, texts[k], "lang", LANGS[int(rng.integers(0, len(LANGS)))]))
        elif kind == "filtered":
            ops.append((k, kind, texts[k], "source", "src%d" % int(rng.integers(0, N_SOURCES))))
        else:
            ops.append((k, kind, texts[k], "", ""))
    _write_tsv(os.path.join(out, "ops.tsv"), ops)
    upd = []
    for u in range(n_upd):
        for d in rng.choice(s["docs"], size=s["update_docs"], replace=False):
            d = int(d)
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))]
            ext = docs[d][1].rsplit(".", 1)[1]
            upd.append((u, d, _layout(rng, words, ext)))
    _write_tsv(os.path.join(out, "updates.tsv"), upd)
    return {"docs": s["docs"], "ingest_batches": s["ingest_batches"], "ops": n_ops,
            "updates": n_upd, "update_docs": s["update_docs"]}


def gen_serve_cdc(rng, out, s):
    nb = s["base_vecs"]
    base = _unit(rng.standard_normal((nb, DIM)))
    base_lab = rng.integers(0, 10, size=nb).astype(np.int32)
    n = nb * s["replicas"]
    vecs = _jitter(rng, np.tile(base, (s["replicas"], 1)), 0.3)
    labels = np.tile(base_lab, s["replicas"])
    ids = np.arange(n, dtype=np.int64)
    ids.tofile(os.path.join(out, "vec_ids.bin"))
    vecs.tofile(os.path.join(out, "vecs.bin"))
    labels.tofile(os.path.join(out, "vec_labels.bin"))
    # reader stream: distinct jittered corpus vectors, kinds in a fixed cycle
    q = s["queries"]
    qv = _jitter(rng, vecs[rng.integers(0, n, size=q)], 0.2)
    kinds = np.resize(np.array(SERVE_CYCLE, dtype=np.int32), q)
    arg = np.where(kinds == 3, rng.integers(0, n, size=q), rng.integers(0, 10, size=q)).astype(np.int64)
    qv.tofile(os.path.join(out, "q_vecs.bin"))
    kinds.tofile(os.path.join(out, "q_kinds.bin"))
    arg.tofile(os.path.join(out, "q_args.bin"))
    # CDC batches against the simulated live id set: 80% u, 10% d of
    # live ids, 10% i of fresh ids; one change per key per batch
    bs = s["batch_size"]
    n_u, n_d = bs * 8 // 10, bs // 10
    n_i = bs - n_u - n_d
    live = ids.copy()
    next_id = n
    c_ids, c_ops, c_lab, c_vec = [], [], [], []
    for _ in range(s["batches"]):
        pick = rng.choice(len(live), size=n_u + n_d, replace=False)
        touched = live[pick]
        fresh = np.arange(next_id, next_id + n_i, dtype=np.int64)
        next_id += n_i
        src = rng.integers(0, nb, size=bs)
        c_ids.append(np.concatenate([touched, fresh]))
        c_ops.append(np.array([0] * n_u + [2] * n_d + [1] * n_i, dtype=np.int8))  # 0 u, 1 i, 2 d
        c_lab.append(base_lab[src])
        c_vec.append(_jitter(rng, base[src], 0.3))
        live = np.concatenate([np.delete(live, pick[n_u:]), fresh])
    np.concatenate(c_ids).tofile(os.path.join(out, "cdc_ids.bin"))
    np.concatenate(c_ops).tofile(os.path.join(out, "cdc_ops.bin"))
    np.concatenate(c_lab).astype(np.int32).tofile(os.path.join(out, "cdc_labels.bin"))
    np.concatenate(c_vec).tofile(os.path.join(out, "cdc_vecs.bin"))
    return {"vecs": n, "dim": DIM, "queries": q, "batches": s["batches"], "batch_size": bs,
            "interval_s": s["interval_s"]}


def gen_curate_batch(rng, out, s):
    base = _base_docs(rng, s["base_docs"])
    docs = []
    for _ in range(s["doc_replicas"]):
        for words, lang, _ in base:
            words = [words[j] for j in rng.permutation(len(words))]
            docs.append([len(docs), " ".join(words), lang])
    n_orig = len(docs)
    exact, near = [], []
    for i in rng.choice(n_orig, size=int(n_orig * s["exact_frac"]), replace=False):
        exact.append((len(docs), int(i)))
        docs.append([len(docs), docs[i][1], docs[i][2]])
    for i in rng.choice(n_orig, size=int(n_orig * s["near_frac"]), replace=False):
        words = docs[i][1].split(" ")
        for j in rng.choice(len(words), size=min(3, len(words)), replace=False):
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        near.append((len(docs), int(i)))
        docs.append([len(docs), " ".join(words), docs[i][2]])
    _write_tsv(os.path.join(out, "docs.tsv"), docs)
    _write_tsv(os.path.join(out, "exact_dups.tsv"), exact)
    # vectors: jittered replicas far apart (cosine ~0.6 to each other)
    # plus planted twins (cosine ~0.999) the semantic dedup must find
    nb = s["base_vecs"]
    bv = _unit(rng.standard_normal((nb, DIM)))
    vecs = _jitter(rng, np.tile(bv, (s["vec_replicas"], 1)), 0.8)
    n0 = len(vecs)
    n_twin = int(n0 * s["twin_frac"])
    src = rng.choice(n0, size=n_twin, replace=False)
    vecs = np.concatenate([vecs, _jitter(rng, vecs[src], 0.05)])
    vecs.tofile(os.path.join(out, "vecs.bin"))
    _write_tsv(os.path.join(out, "twins.tsv"), [(int(a), n0 + k) for k, a in enumerate(src)])
    return {"docs": len(docs), "exact_dups": len(exact), "near_dups": len(near),
            "vecs": len(vecs), "dim": DIM, "planted_twins": n_twin}


GENERATORS = {"rag_docs": gen_rag_docs, "serve_cdc": gen_serve_cdc,
              "curate_batch": gen_curate_batch}


def _digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(workload, seed, out):
    """Write (or reuse) the inputs of `workload` for `seed` under `out`;
    returns the manifest."""
    man_path = os.path.join(out, "manifest.json")
    key = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION,
           "sizes": SIZES[workload]}
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("key") == key:
            return man
    os.makedirs(out, exist_ok=True)
    for name in os.listdir(out):
        os.remove(os.path.join(out, name))
    counts = GENERATORS[workload](_rng(seed, workload), out, SIZES[workload])
    with open(os.path.join(out, "params.txt"), "w") as f:
        for k, v in sorted(counts.items()):
            f.write("%s=%s\n" % (k, v))
    files = {n: _digest(os.path.join(out, n)) for n in sorted(os.listdir(out))}
    man = {"key": key, "counts": counts, "sha256": files}
    with open(man_path, "w") as f:
        json.dump(man, f, sort_keys=True)
    return man
