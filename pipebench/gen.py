"""Seeded input generator for the pipeline benchmark.

Every input the benchmark feeds the program comes from here, from the
workload seed and a scale, so the same seed always gives byte-identical
inputs.  Each generator also writes what the benchmark's correctness
checks compare against, computed without the program: `expected.json`,
and for dag_build the DuckDB reference marts (oracle.py).

    python3 pipebench/gen.py <workload> <seed> <out_dir> [scale]
"""
import csv
import datetime
import hashlib
import json
import os
import random
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes per workload at scale 1. dag_build: loans (0-24 payments
# each) starting over `days`; corpus_curate: documents.
SCALE = {
    "dag_build": {"loans": 5000, "days": 365},
    "corpus_curate": {"docs": 10000},
}

# The reference project's loan types (seeds/loan_types.csv).
LOAN_TYPES = [
    (1, "Mortgage", "Primary residence home loan", 360, 50000, 1000000),
    (2, "Home Equity", "Home equity line of credit", 120, 10000, 500000),
    (3, "Personal", "Personal unsecured loan", 60, 1000, 50000),
]
STREETS = ["Main St", "Oak Ave", "Pine Rd", "Elm St", "Cedar Ln",
           "Maple Dr", "Birch Way", "Spruce Ct"]
CITIES = ["Austin TX", "Dallas TX", "Houston TX", "El Paso TX"]

# Document marginals follow tools/gen_fixtures.py: a 30-word vocabulary,
# 10-100 tokens, ~41% en and ~15% each of de/es/fr/zh, 20 sources,
# 0.16% exact duplicates and ~5% near-duplicates (shared prefix, new
# tail tagged 'dup').
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
# TextAnalysis.DefaultStopwords and CorpusClean's quality rule.
STOPWORDS = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "it"}
PUNCT = set(".,;:!?'\"()")
NEAR_DUP_THRESHOLD = 0.5
MIX_WEIGHTS = {"en": 2, "de": 1, "es": 1, "fr": 1, "zh": 1}
SEED_FILES = 4  # files per document table: parallel scans on 4 cores


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


LOAN_HEADER = ["loan_id", "customer_id", "loan_type_id", "loan_amount",
               "interest_rate", "loan_start_date", "loan_term_months",
               "property_address", "property_value"]
PAYMENT_HEADER = ["payment_id", "loan_id", "payment_date", "payment_amount",
                  "principal_paid", "interest_paid", "payment_status"]


def loan_row(rng, loan_id, n_customers, start, days=730):
    """One raw_loans row (Tables.rawLoansSchema); NULL property for
    unsecured loans, as in the reference seeds."""
    t = rng.choices(LOAN_TYPES, weights=[5, 3, 2])[0]
    tid, _, _, term, lo, hi = t
    amount = rng.randrange(lo // 100, hi // 100 + 1) * 100
    rate = round(rng.uniform(2.5, 12.0) if tid == 3 else rng.uniform(2.5, 7.5), 2)
    day = start + datetime.timedelta(days=rng.randrange(days))
    if tid == 3:
        address, value = "", ""
    else:
        address = f"{rng.randrange(1, 9999)} {rng.choice(STREETS)}, {rng.choice(CITIES)}"
        value = 0 if rng.random() < 0.01 else int(amount / rng.uniform(0.4, 0.97)) // 1000 * 1000 + 1000
    return [loan_id, f"C{rng.randrange(n_customers):07d}", tid, amount, rate,
            day.isoformat(), term, address, value]


def payment_rows(rng, loan, next_id):
    amount, rate = loan[3], loan[4] / 100 / 12
    term, start = loan[6], datetime.date.fromisoformat(loan[5])
    monthly = round(amount * rate / (1 - (1 + rate) ** -term), 2)
    balance, rows = float(amount), []
    for m in range(1, rng.randint(0, 24) + 1):
        y, mo = divmod(start.month - 1 + m, 12)
        day = datetime.date(start.year + y, mo + 1, min(start.day, 28))
        interest = round(balance * rate, 2)
        principal = round(monthly - interest, 2)
        balance -= principal
        status = rng.choices(["completed", "late", "missed"], weights=[95, 4, 1])[0]
        rows.append([f"P{next_id + len(rows):08d}", loan[0], day.isoformat(),
                     monthly, principal, interest, status])
    return rows


def gen_dag_build(seed, out, scale):
    rng = random.Random(seed)
    n = scale["loans"]
    start = datetime.date(2021, 1, 1)
    loans = [loan_row(rng, f"L{i:07d}", n // 2, start, scale["days"]) for i in range(n)]
    payments = []
    for loan in loans:
        payments += payment_rows(rng, loan, len(payments))
    shutil.copy(os.path.join(HERE, "..", "src", "test", "resources", "seeds",
                             "loan_types.csv"), out)
    write_csv(os.path.join(out, "raw_loans.csv"), LOAN_HEADER, loans)
    write_csv(os.path.join(out, "raw_loan_payments.csv"), PAYMENT_HEADER, payments)
    oracle.reference(out)
    return {"input_rows": len(loans) + len(payments) + len(LOAN_TYPES)}


def gen_texts(rng_for, first_id, n, texts):
    """gen_fixtures.py's document process, seeded per document.  `texts`
    holds every earlier document, so duplicates may copy any of them.
    Rows are (doc_id, text, lang, source, parent); `parent` is the
    document a copy derives from and is not written out."""
    out = []
    for i in range(first_id, first_id + n):
        rng = rng_for(i)
        r, parent = rng.random(), None
        if i > 10 and r < 0.0016:
            parent = rng.randrange(i)
            text = texts[parent]
        elif i > 10 and r < 0.05:
            parent = rng.randrange(i)
            src = texts[parent].split(" ")
            keep = max(12, len(src) * 2 // 3)
            tail = ["dup"] + [rng.choice(VOCAB) for _ in range(rng.randint(4, 30))]
            text = " ".join(src[:keep] + tail)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
        lang = "en" if rng.random() < 0.41 else rng.choice(LANGS[1:])
        out.append((i, text, lang, f"src{i % 20}", parent))
    return out


def write_docs(path, docs, files):
    """A parquet table as a directory of `files` files (Tables.table reads
    `<dir>/<name>.parquet`)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(docs) // files)
    for k in range(files):
        part = docs[k * per:(k + 1) * per]
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in part], pa.int64()),
            "text": pa.array([d[1] for d in part], pa.string()),
            "lang": pa.array([d[2] for d in part], pa.string()),
            "source": pa.array([d[3] for d in part], pa.string()),
        }), os.path.join(path, f"part-{k:05d}.parquet"))


def shingles(text):
    t = text.split(" ")
    return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def keeps_quality(text):
    """TextAnalysis.qualityMetrics' keep flag."""
    toks = text.split(" ")
    punct = sum(c in PUNCT for c in text)
    return (len(toks) >= 5 and sum(t.lower() in STOPWORDS for t in toks) > 0
            and (punct / len(text) if text else 1.0) < 0.2)


HASH_MOD = 1 << 30


def char_poly_hash(s):
    """Hashing.charPolyHash: base 31 over code points, mod 2^30."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc


def fingerprint(text):
    """TextDedup's content fingerprint: a base-131 rolling hash, mod 2^30,
    over the tokens' char_poly_hash.  Exact dedup keeps one document per
    fingerprint, so two distinct texts whose fingerprints collide count
    as one (about n^2 / 2^31 such pairs among n distinct texts)."""
    acc = 0
    for tok in text.split(" "):
        acc = (acc * 131 + char_poly_hash(tok)) % HASH_MOD
    return acc


def hash_bucket_ppm(i):
    """Sampling.hashBucketPpm for a non-negative id."""
    return ((i % 2147483648) * 2654435761 >> 16) % 1000000


def near_dup_pairs(docs, parent):
    """All pairs with 3-shingle Jaccard >= threshold, scored exactly.
    Only documents of one copy family (linked through `parent`) are
    scored; `parent` covers every generated document, so a family stays
    linked through members the filters dropped.  Two independent 10-100
    token texts share a 3-shingle with probability 1/27000 per position
    pair, so their Jaccard stays near 0.002, far below the threshold."""
    def root(i):
        while parent.get(i) is not None:
            i = parent[i]
        return i
    families = {}
    for d in docs:
        families.setdefault(root(d[0]), []).append(d)
    pairs = []
    for members in families.values():
        sets = [(d[0], shingles(d[1])) for d in members]
        for x, (a, sa) in enumerate(sets):
            for b, sb in sets[x + 1:]:
                if jaccard(sa, sb) >= NEAR_DUP_THRESHOLD:
                    pairs.append((min(a, b), max(a, b)))
    return sorted(pairs)


def components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def mix(docs, weights):
    """Sampling.mixToTarget's kept set, from its integer-rate formula."""
    counts = {}
    for d in docs:
        if d[2] in weights:
            counts[d[2]] = counts.get(d[2], 0) + 1
    bdom = min(counts, key=lambda d: (counts[d] / weights[d], d))
    bc, bw = counts[bdom], weights[bdom]
    rate = {d: (1000000 * bc * weights[d]) // (bw * c) for d, c in counts.items()}
    return [d for d in docs if d[2] in rate and hash_bucket_ppm(d[0]) < rate[d[2]]]


def gen_corpus_curate(seed, out, scale):
    docs = gen_texts(lambda i: random.Random(seed * 1000003 + i), 0,
                     scale["docs"], [])
    write_docs(os.path.join(out, "documents.parquet"), docs, SEED_FILES)
    quality = [d for d in docs if keeps_quality(d[1])]
    first = {}
    for d in quality:
        first.setdefault(fingerprint(d[1]), d)
    exact = sorted(first.values())
    collided = len({d[1] for d in quality}) - len(exact)
    pairs = near_dup_pairs(exact, {d[0]: d[4] for d in docs})
    labels = components(pairs)
    survivors = [d for d in exact if labels.get(d[0], d[0]) == d[0]]
    mixed = mix(survivors, MIX_WEIGHTS)
    return {
        "input_rows": len(docs),
        "threshold": NEAR_DUP_THRESHOLD,
        "weights": MIX_WEIGHTS,
        "quality": len(quality),
        "exact": len(exact),
        "fingerprint_collisions": collided,
        "pairs": [list(p) for p in pairs],
        "clusters": {str(k): v for k, v in sorted(labels.items())},
        "mixed": [d[0] for d in mixed],
    }


GENERATORS = {"dag_build": gen_dag_build, "corpus_curate": gen_corpus_curate}


# Sizes a scale multiplies; the others are shapes, not sizes.
SCALED = {"loans", "docs"}


def generate(workload, seed, out, scale=1.0):
    """Write the inputs and expected.json for (workload, seed) into `out`
    unless a complete set made by this generator is already there.  `scale` multiplies the input
    sizes (the benchmark runs at 1)."""
    sizes = {k: int(v * scale) if k in SCALED else v for k, v in SCALE[workload].items()}
    digest = hashlib.sha256(b"".join(
        open(os.path.join(HERE, f), "rb").read() for f in ("gen.py", "oracle.py"))).hexdigest()
    done = os.path.join(out, "expected.json")
    if os.path.exists(done) and json.load(open(done)).get("made_by") == [sizes, digest]:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    expected = GENERATORS[workload](seed, out, sizes)
    expected.update(workload=workload, seed=seed, made_by=[sizes, digest])
    with open(done + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(done + ".tmp", done)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
             float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)
