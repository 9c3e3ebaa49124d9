"""Seeded input generator for the benchmark.

Everything the program sees is made here from the workload seed: a corpus
of text PDFs (FlateDecode content streams, words drawn from a Zipf
vocabulary) in a 1-4 deep category tree, and the request stream of the
`serve` workload. The same seed gives a byte-identical corpus and stream;
`self_check` proves it by generating twice and comparing digests.

The generator also returns the ground truth the output checks need: the
text of every page, which pages are image-only, and the file list.
"""

import bisect
import hashlib
import itertools
import json
import os
import random
import zlib

VOCAB_SIZE = 20000
ZIPF_S = 1.05
LINES_PER_PAGE = 24
WORDS_PER_LINE = 10
IMAGE_PAGE_SHARE = 0.04   # pages that carry only a raster image
PARETO_ALPHA = 1.0        # page counts per file: most small, a few ~100

# Serve read mix (closed loop): 8 searches to 1 /document, near the
# reference's 85:10. Its 5% upserts cost seconds each at this commit, so
# the writer sends one per run instead (see README).
SIZES = (5, 10, 50)
MIN_SCORES = (0.0, 0.5)


def _word(rng):
    n = rng.randint(3, 9)
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))


def vocabulary(rng):
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    def __init__(self, items, s):
        self.items = items
        self.cum = list(itertools.accumulate(1.0 / (r ** s)
                                             for r in range(1, len(items) + 1)))

    def draw(self, rng):
        return self.items[bisect.bisect(self.cum, rng.random() * self.cum[-1])]


def page_counts(n):
    """Pages per file at evenly spaced quantiles of a Pareto law: the
    skew is the same for every seed, so is the total work; the seed only
    decides which file gets which count and what the pages say."""
    return [max(1, round(1.2 / (1 - (i + 0.5) / n) ** (1 / PARETO_ALPHA)))
            for i in range(n)]


def _pdf(pages, image_bytes):
    """A classic-xref PDF; `pages` is a list of text lines or None for an
    image-only page."""
    objs = {}
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    img = zlib.compress(image_bytes, 9)
    objs[4] = (b"<< /Type /XObject /Subtype /Image /Width 16 /Height 16 "
               b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
               b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(img)
               + img + b"\nendstream")
    kids, nxt = [], 5
    for lines in pages:
        if lines is None:
            content = b"q 200 0 0 200 100 400 cm /Im1 Do Q"
            res = b"<< /XObject << /Im1 4 0 R >> >>"
        else:
            ops = [b"BT /F1 10 Tf 72 750 Td"]
            for i, line in enumerate(lines):
                if i:
                    ops.append(b"0 -14 Td")
                ops.append(b"(" + line.encode("ascii") + b") Tj")
            ops.append(b"ET")
            content = b"\n".join(ops)
            res = b"<< /Font << /F1 3 0 R >> >>"
        z = zlib.compress(content, 6)
        objs[nxt] = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(z)
                     + z + b"\nendstream")
        objs[nxt + 1] = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                         b"/Resources " + res + b" /Contents %d 0 R >>" % nxt)
        kids.append(nxt + 1)
        nxt += 2
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Kids [" + b" ".join(b"%d 0 R" % k for k in kids)
               + b"] /Count %d >>" % len(kids))
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for n in range(1, nxt):
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % nxt
    for n in range(1, nxt):
        out += b"%010d 00000 n \n" % offsets[n]
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (nxt, xref)
    return bytes(out)


def corpus(seed, counts):
    """Files as (relative path, pdf bytes, pages) where pages[i] is the
    extracted text of page i+1 or None for an image-only page. `counts`
    gives the pages of each file, shuffled by the seed."""
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    zipf = Zipf(vocab, ZIPF_S)
    cats = [_word(rng) for _ in range(12)]
    counts = list(counts)
    rng.shuffle(counts)
    total = sum(counts)
    images = set(rng.sample(range(total), round(total * IMAGE_PAGE_SHARE)))
    files, page_no = [], 0
    for f, n in enumerate(counts):
        depth = rng.randint(1, 4)
        dirs = [rng.choice(cats[:4])] + [rng.choice(cats) for _ in range(depth - 1)]
        rel = "/".join(dirs + ["doc%04d.pdf" % f])
        pages = []
        for _ in range(n):
            if page_no in images:
                pages.append(None)
            else:
                pages.append([" ".join(zipf.draw(rng) for _ in range(WORDS_PER_LINE))
                              for _ in range(LINES_PER_PAGE)])
            page_no += 1
        image = bytes(rng.randrange(256) for _ in range(256))
        files.append((rel, _pdf(pages, image),
                      [None if p is None else "\n".join(p) for p in pages]))
    return vocab, zipf, files


def requests(seed, files, zipf, n):
    """The serve stream: one JSON object per request. The first entry is
    the probe query (words of the first file, so it has hits), the second
    the writer's upsert of the smallest file; the rest are reads. The knobs cycle instead of
    being drawn, so any stretch of the stream has the same composition and
    a short run measures the same mix for every seed: every ninth read is a
    /document, searches cycle through 1-4 terms, each `size` and each
    `min_score`, and every third search repeats an earlier query."""
    rng = random.Random(seed * 7919 + 1)
    text = next(p for p in files[0][2] if p)
    smallest = min(range(len(files)), key=lambda f: (len(files[f][2]), f))
    out = [{"op": "probe", "query": " ".join(text.split()[:4])},
           {"op": "upsert", "file": smallest}]
    pool = []
    for i in range(n):
        if i % 9 == 8:
            out.append({"op": "document", "file": rng.randrange(len(files))})
            continue
        j = i - i // 9
        if j % 9 in (1, 5, 6):  # a third, across every size
            q = rng.choice(pool)
        else:
            q = " ".join(zipf.draw(rng) for _ in range(1 + j % 4))
            pool.append(q)
        out.append({"op": "search", "query": q, "size": SIZES[j % 3],
                    "min_score": MIN_SCORES[(j // 3) % 2]})
    return out


# Text tables for the `operators` layer, in the layout `graft.Tables`
# reads (`documents.parquet`, `embeddings.parquet`). A share of rows are
# near-copies of earlier ones, so the dedup queries find pairs.
DOCS, DOC_WORDS = 1200, (30, 60)
VECS, DIM, LABELS = 400, 64, 10
NEAR_COPY_SHARE = 0.1
LANGS = (("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))


def text_tables(seed, vocab):
    """Rows of `documents` (doc_id, text, lang, source, n_chars) and
    `embeddings` (vec_id, embedding, label), drawn from the corpus
    vocabulary with the seed."""
    rng = random.Random(seed * 104729 + 3)
    zipf = Zipf(vocab, ZIPF_S)
    texts = []
    for i in range(DOCS):
        if i and rng.random() < NEAR_COPY_SHARE:
            words = texts[rng.randrange(i)].split()
            for _ in range(2):
                words[rng.randrange(len(words))] = zipf.draw(rng)
        else:
            words = [zipf.draw(rng) for _ in range(rng.randint(*DOC_WORDS))]
        texts.append(" ".join(words))
    langs, weights = zip(*LANGS)
    docs = [(i, t, rng.choices(langs, weights)[0], "src%d" % (i % 20), len(t))
            for i, t in enumerate(texts)]
    centroids = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(LABELS)]
    vecs = []
    for i in range(VECS):
        if i and rng.random() < NEAR_COPY_SHARE:
            _, v, label = vecs[rng.randrange(i)]
            v = [x + rng.gauss(0, 0.01) for x in v]
        else:
            label = rng.randrange(LABELS)
            v = [c + rng.gauss(0, 0.6) for c in centroids[label]]
        vecs.append((i, v, label))
    return docs, vecs


def write_tables(root, docs, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(root, "tables")
    os.makedirs(d, exist_ok=True)
    cols = list(zip(*docs))
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()), "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64())}), os.path.join(d, "documents.parquet"))
    cols = list(zip(*vecs))
    pq.write_table(pa.table({
        "vec_id": pa.array(cols[0], pa.int64()),
        "embedding": pa.array(cols[1], pa.list_(pa.float32())),
        "label": pa.array(cols[2], pa.int32())}), os.path.join(d, "embeddings.parquet"))


def write(root, files, stream=None):
    for rel, data, _ in files:
        p = os.path.join(root, "corpus", rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(data)
    if stream is not None:
        with open(os.path.join(root, "requests.jsonl"), "w") as fh:
            for r in stream:
                fh.write(json.dumps(r, sort_keys=True) + "\n")


def digest(files, stream, tables=None):
    h = hashlib.sha256()
    for rel, data, _ in files:
        h.update(rel.encode())
        h.update(data)
    for r in stream or []:
        h.update(json.dumps(r, sort_keys=True).encode())
    for rows in tables or ():
        h.update(repr(rows).encode())
    return h.hexdigest()


def generate(seed, counts, n_requests=0, tables=False):
    vocab, zipf, files = corpus(seed, counts)
    stream = requests(seed, files, zipf, n_requests) if n_requests else None
    return vocab, files, stream, (text_tables(seed, vocab) if tables else None)


def self_check(seed, counts, n_requests, tables, first):
    """Regenerate and compare: a generator that is not a pure function of
    the seed would make runs incomparable."""
    _, files, stream, tabs = generate(seed, counts, n_requests, tables)
    again = digest(files, stream, tabs)
    if again != first:
        raise SystemExit("generator is not deterministic: %s != %s" % (first, again))


def summary(vocab, files, stream, tables=None):
    counts = sorted(len(p) for _, _, p in files)
    pages = sum(counts)
    image = sum(1 for _, _, ps in files for p in ps if p is None)
    used = {w for _, _, ps in files for p in ps if p for w in p.split()}
    s = {
        "files": len(files),
        "pages": pages,
        "pages_per_file": {"min": counts[0], "median": counts[len(counts) // 2],
                           "p95": counts[int(len(counts) * 0.95)], "max": counts[-1]},
        "image_only_page_share": round(image / pages, 4),
        "vocabulary": len(vocab),
        "distinct_terms_used": len(used),
        "corpus_bytes": sum(len(d) for _, d, _ in files),
        "text_bytes": sum(len(p) for _, _, ps in files for p in ps if p),
    }
    if stream:
        searches = [r["query"] for r in stream if r["op"] == "search"]
        seen, rep = set(), 0
        for q in searches:
            rep += q in seen
            seen.add(q)
        s["requests"] = len(stream)
        s["request_mix"] = {op: round(sum(r["op"] == op for r in stream) / len(stream), 4)
                            for op in ("search", "document", "upsert")}
        s["repeated_query_share"] = round(rep / max(1, len(searches)), 4)
        s["distinct_queries"] = len(seen)
    if tables:
        docs, vecs = tables
        s["text_tables"] = {"documents": len(docs), "embeddings": len(vecs),
                            "embedding_dim": DIM, "near_copy_share": NEAR_COPY_SHARE}
    return s
