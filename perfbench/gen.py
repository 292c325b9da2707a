"""Seeded input generator for the perfbench workloads.

Everything the program reads is written here, to parquet, before the JVM
starts: the same (workload, seed) gives byte-identical files, and a
different seed gives different documents, waves and operation sequences.

    python3 perfbench/gen.py <workload> <seed> <out_dir> <seconds>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 2500            # cloned ×2: the sf0.1 `documents` row count
CLONE_SHIFT = 100_000_000   # Scale10's doc_id shift per clone
CURATION_CLONES = 2
CHECK_DOCS = 40             # base size of the corpus the DuckDB oracle checks
INDEX_CLONES = 2
ORDERS = 150_000            # sf0.1 `orders`
CUSTOMERS = 15_000          # sf0.1 `customer`
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
# LangIdNode's ASCII markers plus the heuristic gate's stopwords
MARKERS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "with", "on",
           "be", "that", "have"],
    "de": ["der", "die", "das", "und", "ist", "ein", "mit", "von", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "avec", "dans"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "para", "con"],
}
LANGS = ["en", "de", "fr", "es"]
LANG_P = [0.7, 0.1, 0.1, 0.1]
SOURCES = ["src0", "src1", "src2", "src3", "src4"]

# rounds per timed second the schedule is sized for (a round takes 15 s
# or more, so a run never exhausts its schedule)
ROUNDS_PER_SECOND = 0.25


def vocabulary():
    """Fixed content vocabulary (independent of the seed)."""
    r = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < 3000:
        n = int(r.integers(3, 10))
        words.add("".join(r.choice(letters, n)))
    return sorted(words)


def write(table: pa.Table, path: str):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   row_group_size=1 << 20)


def base_documents(r, base):
    vocab = np.array(vocabulary())
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    texts, langs, sources = [], [], []
    for i in range(base):
        lang = LANGS[r.choice(4, p=LANG_P)]
        n = int(np.clip(r.lognormal(4.3, 0.7), 8, 600))
        words = list(vocab[r.choice(len(vocab), n, p=zipf)])
        marks = MARKERS[lang]
        for j in np.nonzero(r.random(n) < 0.22)[0]:
            words[j] = marks[r.integers(len(marks))]
        if r.random() < 0.04:                      # numeric noise
            for j in np.nonzero(r.random(n) < 0.3)[0]:
                words[j] = str(int(r.integers(0, 10000)))
        if i > 20 and r.random() < 0.08:           # near-dup family
            src = r.integers(0, i)
            words = texts[src].split(" ")
            for _ in range(int(r.integers(1, 3))):
                words[r.integers(len(words))] = vocab[r.integers(len(vocab))]
        elif i > 20 and r.random() < 0.03:         # exact dup, case/space noise
            words = texts[r.integers(0, i)].upper().split(" ")
        texts.append(" ".join(words))
        langs.append(lang)
        sources.append(SOURCES[r.integers(len(SOURCES))])
    return texts, langs, sources


def documents(r, clones, base=BASE_DOCS):
    """A fixed `base`-doc corpus (the same under every seed, as the sf0.1
    `documents` table is) cloned `clones` times with shifted doc_ids; a
    seeded share of the clones gets a one-token edit."""
    vocab = vocabulary()
    texts, langs, sources = base_documents(np.random.default_rng(base), base)
    ids, out_t, out_l, out_s = [], [], [], []
    for c in range(clones):
        edit = r.random(base) < (0.2 if c else 0.0)
        for i in range(base):
            t = texts[i]
            if edit[i]:
                w = t.split(" ")
                w[r.integers(len(w))] = vocab[r.integers(len(vocab))]
                t = " ".join(w)
            ids.append(c * CLONE_SHIFT + i)
            out_t.append(t)
            out_l.append(langs[i])
            out_s.append(sources[i])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_t, pa.string()),
        "lang": pa.array(out_l, pa.string()),
        "source": pa.array(out_s, pa.string()),
        "n_chars": pa.array([len(t) for t in out_t], pa.int64()),
    })


def log_uniform(r, lo, hi):
    return int(round(float(np.exp(r.uniform(np.log(lo), np.log(hi))))))


def gen_curation(r, out, seconds):
    write(documents(r, CURATION_CLONES), os.path.join(out, "documents.parquet"))
    # q124's DuckDB oracle compares near-duplicates pairwise (quadratic), so
    # the oracle check runs the same DAG over a small corpus of the same kind
    os.makedirs(os.path.join(out, "check"), exist_ok=True)
    write(documents(r, CURATION_CLONES, CHECK_DOCS),
          os.path.join(out, "check", "documents.parquet"))
    return [], []


WAVE_KINDS = ["fact_upsert", "fact_delete", "dim_upsert", "dim_delete"]
FIRST_WAVE_ROWS = 1000
WAVE_P = [0.35, 0.25, 0.25, 0.15]


def gen_ivm(r, out, n_waves):
    okey = np.arange(1, ORDERS + 1, dtype=np.int64) * 4   # sparse, as TPC-H
    ocust = r.integers(1, CUSTOMERS + 1, ORDERS).astype(np.int64)
    price = r.integers(900, 500_000, ORDERS).astype(np.int64)
    write(pa.table({"o_orderkey": okey, "o_custkey": ocust, "price_i": price}),
          os.path.join(out, "orders.parquet"))
    ckey = np.arange(1, CUSTOMERS + 1, dtype=np.int64)
    cnat = r.integers(0, len(NATIONS), CUSTOMERS).astype(np.int32)
    cseg = r.integers(0, len(SEGMENTS), CUSTOMERS)
    write(pa.table({"c_custkey": ckey, "c_nationkey": cnat,
                    "c_mktsegment": pa.array([SEGMENTS[s] for s in cseg])}),
          os.path.join(out, "customer.parquet"))
    write(pa.table({"n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
                    "n_name": NATIONS}),
          os.path.join(out, "nation.parquet"))

    live_f = dict(zip(okey.tolist(), zip(ocust.tolist(), price.tolist())))
    next_okey = int(okey[-1]) + 4
    live_c = set(ckey.tolist())
    dead_c = []
    # the schedule opens with one wave of each kind and one more fact
    # upsert, then a seeded mix
    kinds = WAVE_KINDS + ["fact_upsert"] + [WAVE_KINDS[k] for k in
                                            r.choice(4, n_waves - 5, p=WAVE_P)]
    fw = {k: [] for k in ("wave", "o_orderkey", "o_custkey", "price_i", "deleted")}
    dw = {k: [] for k in ("wave", "c_custkey", "c_nationkey", "c_mktsegment", "deleted")}
    waves = []
    for w, kind in enumerate(kinds):
        if w == 0:      # the first timed wave has a fixed size, so runs compare
            rows = FIRST_WAVE_ROWS
        elif kind.startswith("fact"):
            rows = log_uniform(r, 100, 10_000)
        else:
            rows = log_uniform(r, 100, 3_000)
        if kind == "fact_upsert":
            n_new = rows // 2
            keys = list(r.choice(np.fromiter(live_f.keys(), np.int64),
                                 rows - n_new, replace=False))
            keys += list(range(next_okey, next_okey + 4 * n_new, 4))
            next_okey += 4 * n_new
            for k in keys:
                v = (int(r.integers(1, CUSTOMERS + 1)), int(r.integers(900, 500_000)))
                live_f[int(k)] = v
                for c, x in zip(("wave", "o_orderkey", "o_custkey", "price_i", "deleted"),
                                (w, int(k), v[0], v[1], False)):
                    fw[c].append(x)
        elif kind == "fact_delete":
            keys = r.choice(np.fromiter(live_f.keys(), np.int64), rows, replace=False)
            for k in keys.tolist():
                del live_f[k]
                for c, x in zip(("wave", "o_orderkey", "o_custkey", "price_i", "deleted"),
                                (w, k, None, None, True)):
                    fw[c].append(x)
        elif kind == "dim_upsert":
            revive = min(len(dead_c), rows // 2)
            keys = [dead_c.pop(int(r.integers(len(dead_c)))) for _ in range(revive)]
            keys += r.choice(np.fromiter(live_c, np.int64), rows - revive,
                             replace=False).tolist()
            for k in keys:
                live_c.add(k)
                for c, x in zip(("wave", "c_custkey", "c_nationkey", "c_mktsegment", "deleted"),
                                (w, k, int(r.integers(0, len(NATIONS))),
                                 SEGMENTS[r.integers(len(SEGMENTS))], False)):
                    dw[c].append(x)
        else:
            keys = r.choice(np.fromiter(live_c, np.int64), rows, replace=False).tolist()
            for k in keys:
                live_c.discard(k)
                dead_c.append(k)
                for c, x in zip(("wave", "c_custkey", "c_nationkey", "c_mktsegment", "deleted"),
                                (w, k, None, None, True)):
                    dw[c].append(x)
        waves.append((kind, len(keys)))
    write(pa.table({"wave": pa.array(fw["wave"], pa.int32()),
                    "o_orderkey": pa.array(fw["o_orderkey"], pa.int64()),
                    "o_custkey": pa.array(fw["o_custkey"], pa.int64()),
                    "price_i": pa.array(fw["price_i"], pa.int64()),
                    "deleted": pa.array(fw["deleted"], pa.bool_())}),
          os.path.join(out, "fact_waves.parquet"))
    write(pa.table({"wave": pa.array(dw["wave"], pa.int32()),
                    "c_custkey": pa.array(dw["c_custkey"], pa.int64()),
                    "c_nationkey": pa.array(dw["c_nationkey"], pa.int32()),
                    "c_mktsegment": pa.array(dw["c_mktsegment"], pa.string()),
                    "deleted": pa.array(dw["deleted"], pa.bool_())}),
          os.path.join(out, "dim_waves.parquet"))
    # seeded check points among the waves a traced run reaches, after the
    # one an untraced run times (a check between timed ops would disturb them)
    checks = sorted(r.choice(np.arange(1, 4), 2, replace=False).tolist())
    return waves, checks


WRITE_KINDS = ["update", "delete"]
WRITE_P = [0.75, 0.25]
QUERY_BATCH = 16
FIRST_WRITE_ROWS = 50
FIRST_DELETE_ROWS = 50
# ops 1-4 are the untimed pass; its three writes hold the index's first fold
# (compactEvery = 3), so the first round's two writes fold nothing
WARM = ["update", "delete", "update", "serve"]
FIRST_BLOCK = ["serve", "serve", "update", "serve", "serve", "delete", "serve"]
LATER_BLOCK = 3             # serve, a seeded write, serve


def gen_index(r, out, n_blocks):
    docs = documents(r, INDEX_CLONES)
    n = docs.num_rows
    held = r.random(n) < 0.10
    write(docs.append_column("held_out", pa.array(held)),
          os.path.join(out, "documents.parquet"))
    vocab = vocabulary()
    ids = docs.column("doc_id").to_numpy()
    pool = list(ids[held])
    r.shuffle(pool)
    live = set(ids[~held].tolist())
    # build serves op 0 and the untimed first pass runs ops 1-4; the timed
    # ops come in blocks, one per round: the first has every kind in a fixed
    # order (the blocks an untraced run times), later ones a seeded write
    # between two serves (they let a traced run reach every wave kind).
    # Every op serves a query batch, a write op after applying its delta.
    kinds = ["serve"] + WARM + FIRST_BLOCK
    for k in r.choice(2, n_blocks - 1, p=WRITE_P):
        kinds += ["serve", WRITE_KINDS[k], "serve"]
    first_timed = 1 + len(WARM)
    ops, q_op, q_id, q_text, upd_op, upd_id, del_op, del_id = [], [], [], [], [], [], [], []
    for i, kind in enumerate(kinds):
        for j in range(QUERY_BATCH):
            q_op.append(i)
            q_id.append(i * 100 + j)
            q_text.append(" ".join(vocab[k] for k in r.integers(0, 400, int(r.integers(2, 7)))))
        rows = QUERY_BATCH
        if kind == "update" and len(pool) < 100:    # held-out documents ran out
            kind = "delete"
        if kind == "update":
            # the first timed write has a fixed size, so runs compare
            rows = (FIRST_WRITE_ROWS if i < first_timed + len(FIRST_BLOCK)
                    else log_uniform(r, 20, 100))
            for _ in range(rows):
                d = int(pool.pop())
                live.add(d)
                upd_op.append(i)
                upd_id.append(d)
        elif kind == "delete":
            rows = (FIRST_DELETE_ROWS if i < first_timed + len(FIRST_BLOCK)
                    else log_uniform(r, 10, 200))
            for d in r.choice(np.fromiter(live, np.int64), rows, replace=False).tolist():
                live.discard(d)
                del_op.append(i)
                del_id.append(d)
        ops.append((kind, rows))
    write(pa.table({"op": pa.array(q_op, pa.int32()),
                    "query_id": pa.array(q_id, pa.int64()),
                    "text": pa.array(q_text, pa.string())}),
          os.path.join(out, "queries.parquet"))
    write(pa.table({"op": pa.array(upd_op, pa.int32()),
                    "doc_id": pa.array(upd_id, pa.int64())}),
          os.path.join(out, "updates.parquet"))
    write(pa.table({"op": pa.array(del_op, pa.int32()),
                    "doc_id": pa.array(del_id, pa.int64())}),
          os.path.join(out, "deletes.parquet"))
    # seeded check points among the ops a traced run reaches, after the
    # ones an untraced run times (a check between timed ops would disturb them)
    start = first_timed + len(FIRST_BLOCK)
    checks = sorted(r.choice(np.arange(start, start + 2 * LATER_BLOCK), 2,
                             replace=False).tolist())
    return ops, checks


def write_plan(out, schedule, checks):
    """`schedule.txt`: one "kind rows ..." line per op; `checks.txt`: one
    op index a line."""
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "schedule.txt"), "w") as f:
        f.writelines(" ".join(str(x) for x in op) + "\n" for op in schedule)
    with open(os.path.join(out, "checks.txt"), "w") as f:
        f.writelines(f"{c}\n" for c in checks)


def gen_ivm_index(r, out, seconds):
    """The chained view (`ivm/`) and the stored index (`index/`), each with
    its own schedule, and the combined schedule: the index's untimed pass
    (round -1), then rounds of one CDC wave followed by one block of index
    ops. Its lines are "kind rows part op round", `op` indexing the part's
    own schedule."""
    n_rounds = 5 + int(ROUNDS_PER_SECOND * seconds)
    for part, g, n in (("ivm", gen_ivm, n_rounds), ("index", gen_index, n_rounds)):
        os.makedirs(os.path.join(out, part), exist_ok=True)
        write_plan(os.path.join(out, part), *g(r, os.path.join(out, part), n))
    with open(os.path.join(out, "ivm", "schedule.txt")) as f:
        waves = [line.split() for line in f]
    with open(os.path.join(out, "index", "schedule.txt")) as f:
        ops = [line.split() for line in f]
    first = 1 + len(WARM)
    schedule = [(*ops[j], "index", j, -1) for j in range(1, first)]
    j = first
    for k in range(n_rounds):
        schedule.append((*waves[k], "ivm", k, k))
        block = len(FIRST_BLOCK) if k == 0 else LATER_BLOCK
        schedule += [(*ops[j + b], "index", j + b, k) for b in range(block)]
        j += block
    return schedule, []


GENERATORS = {"curation_batch": gen_curation, "ivm_index": gen_ivm_index}


def generate(workload: str, seed: int, out: str, seconds: int):
    """Write the workload's inputs, its schedule and its seeded check
    points."""
    os.makedirs(out, exist_ok=True)
    r = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    write_plan(out, *GENERATORS[workload](r, out, seconds))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))
