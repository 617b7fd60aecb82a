"""Seeded input generation for the benchmark.

Every input the program sees in `pipeline_scaled` and `rag_serve` is made
here from the committed base fixture (`data/sf0.01`) and the seed, with
numpy's PCG64 generator, and written with pyarrow. The same seed gives
byte-identical files (see tests/test_bench.py). `suite` reads the base
fixture as is; its seed only permutes the query order.

  pipeline_scaled  k id-offset copies of the base documents/orders/
                   embeddings, perturbed per copy and per seed (GenScale's
                   perturb scheme: a salt token per copy; each copy's
                   embeddings placed in their own block of a k·dim space,
                   which one seeded orthogonal transform then mixes, so
                   within-copy cosines are the base's and cross-copy
                   cosines are 0), shaped as the reference's raw
                   Reddit/Stack post and comment tables.
  rag_serve        question vectors near (or far from) indexed vectors,
                   upsert batches of new vectors, the documents for them,
                   and the request order.
"""
import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached inputs are rebuilt.
VERSION = 9
PIPELINE_K = 8
SERVE_REQUESTS = 1000
SERVE_UPSERT_SHARE = 0.3
SERVE_WARM_QUESTIONS = 3
# input sets kept in the cache
KEEP_INPUT_SETS = 8
DOC_OFFSET = 1_000_000
UPSERT_ID_BASE = 900_000_000
BOT_REDDIT = "I am a bot, beep boop"
BOT_STACK = "Please contact the moderators of this community"


def _read(base, table):
    return pq.read_table(os.path.join(base, f"{table}.parquet"))


def _write(out, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _write_parts(out, name, parts):
    """A table as a directory of part files, one per copy, as a data lake
    holds it, so that scans split across cores."""
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    for i, columns in enumerate(parts):
        pq.write_table(pa.table(columns), os.path.join(d, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _embeddings(base):
    t = _read(base, "embeddings")
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    labels = t.column("label").to_numpy().astype(np.int32)
    return ids, vecs, labels


def _float_lists(vecs):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _lift(vecs, copy, signs, perm):
    """Copy `copy`'s vectors in the k·dim space: placed in block `copy`,
    then a seeded orthogonal transform (sign flips, a coordinate
    permutation and a normalised Walsh-Hadamard transform). Made of
    element-wise float64 adds only, so the bytes do not depend on the BLAS
    or the CPU. Disjoint blocks stay orthogonal: cross-copy cosines are 0."""
    n, dim = vecs.shape
    x = np.zeros((n, signs.size))
    x[:, copy * dim:(copy + 1) * dim] = vecs
    x = (x * signs)[:, perm]
    h = 1
    while h < x.shape[1]:
        y = x.reshape(n, -1, 2, h)
        x = np.stack([y[:, :, 0] + y[:, :, 1], y[:, :, 0] - y[:, :, 1]], axis=2).reshape(n, -1)
        h *= 2
    return (x / np.sqrt(x.shape[1])).astype(np.float32)


def pipeline(base, out, seed):
    """The raw tables of the batch flow: k perturbed copies of the base."""
    k = PIPELINE_K
    rng = np.random.default_rng([seed, 1])
    docs = _read(base, "documents")
    doc_id = docs.column("doc_id").to_numpy()
    text = np.array(docs.column("text").to_pylist(), dtype=object)
    lang = np.array(docs.column("lang").to_pylist(), dtype=object)
    source = np.array(docs.column("source").to_pylist(), dtype=object)
    n_chars = docs.column("n_chars").to_numpy()
    okey = _read(base, "orders").column("o_orderkey").to_numpy()
    vid, vecs, labels = _embeddings(base)
    # the Walsh-Hadamard transform needs a power-of-two width
    width = 1 << (k * vecs.shape[1] - 1).bit_length()
    signs = rng.choice([-1.0, 1.0], width)
    perm = rng.permutation(width)
    half = int(doc_id.max()) // 2 + 1

    rp, sp, rc, sc, em = [], [], [], [], []
    for c in range(k):
        gid = c * DOC_OFFSET + doc_id
        salt = f" s{seed}c{c}"
        body = np.array([t + salt for t in text], dtype=object)
        deleted = rng.random(len(gid)) < 1 / 17
        ncom = rng.integers(0, 7, len(gid))
        red = doc_id % 2 == 0
        rp.append(dict(
            id=[str(g) for g in gid[red]], subreddit=lang[red],
            title=np.where(deleted[red], "[deleted]", [f"Doc {g}" for g in gid[red]]),
            selftext=body[red], score=n_chars[red], num_comments=ncom[red]))
        st = ~red
        sp.append(dict(
            question_id=gid[st], site=source[st],
            title=np.where(deleted[st], "[removed]", [f"Q {g}" for g in gid[st]]),
            qbody=np.array([f"<p>{b}</p>" for b in body[st]], dtype=object),
            score=n_chars[st], answer_count=ncom[st]))

        cid = c * 100_000_000 + okey
        plat = rng.integers(0, 3, len(cid))
        parent = c * DOC_OFFSET + 2 * rng.integers(0, half, len(cid)) + (plat == 1)
        u = rng.random(len(cid))
        score = rng.integers(0, 100, len(cid))
        r = plat == 0
        rc.append(dict(
            cid=[f"c{x}" for x in cid[r]],
            text=np.where(u[r] < 1 / 13, "[deleted]", np.where(
                u[r] < 1 / 13 + 1 / 11, BOT_REDDIT, [f"comment {x}" for x in cid[r]])),
            cscore=score[r], parent=[str(p) for p in parent[r]]))
        s = plat == 1
        sc.append(dict(
            answer_id=cid[s],
            abody=np.where(u[s] < 1 / 13, "[removed]", np.where(
                u[s] < 1 / 13 + 1 / 11, BOT_STACK,
                [f"<b>answer {x}</b> &amp; details" for x in cid[s]])),
            ascore=score[s], parent=[str(p) for p in parent[s]]))
        em.append(dict(vec_id=c * DOC_OFFSET + vid,
                       embedding=_lift(vecs, c, signs, perm), label=labels))

    def typed(parts, types):
        return [{key: pa.array(np.asarray(p[key]), type=t) for key, t in types.items()}
                for p in parts]

    reddit = typed(rp, dict(id=pa.string(), subreddit=pa.string(), title=pa.string(),
                            selftext=pa.string(), score=pa.int64(), num_comments=pa.int64()))
    # the two-listing ingest overlap: a seeded tenth of the posts appear twice
    listing = pa.concat_tables([pa.table(p) for p in reddit])
    dup = np.flatnonzero(rng.random(listing.num_rows) < 0.1)
    reddit.append({c: listing.column(c).combine_chunks().take(pa.array(dup))
                   for c in listing.column_names})
    os.makedirs(out, exist_ok=True)
    _write_parts(out, "reddit_posts", reddit)
    _write_parts(out, "stack_posts", typed(sp, dict(
        question_id=pa.int64(), site=pa.string(), title=pa.string(), qbody=pa.string(),
        score=pa.int64(), answer_count=pa.int64())))
    _write_parts(out, "reddit_comments", typed(rc, dict(
        cid=pa.string(), text=pa.string(), cscore=pa.int64(), parent=pa.string())))
    _write_parts(out, "stack_comments", typed(sc, dict(
        answer_id=pa.int64(), abody=pa.string(), ascore=pa.int64(), parent=pa.string())))
    _write_parts(out, "embeddings", [dict(
        vec_id=pa.array(e["vec_id"], type=pa.int64()), embedding=_float_lists(e["embedding"]),
        label=pa.array(e["label"], type=pa.int32())) for e in em])
    rows = {t: sum(pq.read_metadata(f).num_rows
                   for f in sorted(glob.glob(os.path.join(out, f"{t}.parquet", "*.parquet"))))
            for t in ("reddit_posts", "stack_posts", "reddit_comments", "stack_comments",
                      "embeddings")}
    return {"k": k, "rows": rows}


def serve(base, out, seed):
    """Questions, upsert batches, their documents and the request order."""
    n_requests = SERVE_REQUESTS
    rng = np.random.default_rng([seed, 2])
    vid, vecs, _ = _embeddings(base)
    docs = _read(base, "documents")
    words = sorted({w for t in docs.column("text").to_pylist() for w in t.split()})
    scale = float(vecs.std())

    kinds = np.where(rng.random(n_requests) < SERVE_UPSERT_SHARE, "upsert", "question")
    qids = np.arange(-SERVE_WARM_QUESTIONS, int((kinds == "question").sum()))
    near = rng.random(len(qids)) < 0.85
    anchor = vecs[rng.integers(0, len(vid), len(qids))]
    noise = rng.normal(0.0, scale, (len(qids), vecs.shape[1]))
    qvec = np.where(near[:, None], anchor + 0.3 * noise, noise).astype(np.float32)
    qtext = [f"question {q}: " + " ".join(rng.choice(words, 6)) for q in qids]

    n_batches = int((kinds == "upsert").sum())
    sizes = rng.integers(2, 9, n_batches)
    batch = np.repeat(np.arange(n_batches), sizes)
    ids = UPSERT_ID_BASE + np.arange(len(batch))
    base_of = vecs[rng.integers(0, len(vid), len(batch))]
    uvec = (base_of + 0.5 * rng.normal(0.0, scale, base_of.shape)).astype(np.float32)

    n_words = rng.integers(10, 60, len(ids))
    utext = [" ".join(rng.choice(words, n)) for n in n_words]
    pick = rng.integers(0, docs.num_rows, len(ids))

    os.makedirs(out, exist_ok=True)
    _write(out, "questions", dict(
        qid=pa.array(qids, type=pa.int64()), qvec=_float_lists(qvec),
        question=pa.array(qtext, type=pa.string())))
    _write(out, "upserts", dict(
        batch=pa.array(batch, type=pa.int64()), vec_id=pa.array(ids, type=pa.int64()),
        embedding=_float_lists(uvec)))
    ref = np.zeros(n_requests, dtype=np.int64)
    ref[kinds == "question"] = np.arange(int((kinds == "question").sum()))
    ref[kinds == "upsert"] = np.arange(n_batches)
    _write(out, "requests", dict(
        req=pa.array(np.arange(n_requests), type=pa.int64()),
        kind=pa.array(kinds.tolist(), type=pa.string()), ref=pa.array(ref, type=pa.int64())))
    _write(out, "docs", dict(
        doc_id=pa.concat_arrays([docs.column("doc_id").combine_chunks(),
                                 pa.array(ids, type=pa.int64())]),
        text=pa.concat_arrays([docs.column("text").combine_chunks(),
                               pa.array(utext, type=pa.string())]),
        lang=pa.concat_arrays([docs.column("lang").combine_chunks(),
                               docs.column("lang").combine_chunks().take(pa.array(pick))]),
        source=pa.concat_arrays([docs.column("source").combine_chunks(),
                                 docs.column("source").combine_chunks().take(pa.array(pick))]),
        n_chars=pa.concat_arrays([docs.column("n_chars").combine_chunks(),
                                  pa.array([len(t) for t in utext], type=pa.int64())])))
    return {"requests": n_requests, "questions": int(len(qids)), "upserts": n_batches}


GENERATORS = {"pipeline_scaled": pipeline, "rag_serve": serve}


def ensure(workload, base, cache, seed):
    """Generate the inputs of (workload, seed) once; return their directory.
    The cache keeps the KEEP_INPUT_SETS most recently generated sets."""
    out = os.path.join(cache, f"{workload}-s{seed}-v{VERSION}")
    done = os.path.join(out, "meta.json")
    if workload in GENERATORS and not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        meta = GENERATORS[workload](base, out, seed)
        with open(done, "w") as f:
            json.dump(meta, f)
        sets = sorted(glob.glob(os.path.join(cache, "*", "meta.json")), key=os.path.getmtime)
        for old in sets[:-KEEP_INPUT_SETS]:
            shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    return out
