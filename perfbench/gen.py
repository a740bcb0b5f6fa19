"""Seeded input generator for the graft benchmark.

Writes every input file of one workload, plus the ground truth the
checks use (parquet tables under `truth/`), before any timing starts.
The program under test only ever sees the input files; `truth/` is read
by the benchmark's checks.

    python3 perfbench/gen.py --workload corpus-batch --seed 7 --out DIR

The output directory is reused when it already holds a complete set for
the same workload, seed, size and generator (the `done` marker records
all four).
"""
import argparse
import base64
import hashlib
import json
import os
import random
import shutil
import struct
import zlib

import duckdb

# Sizes per workload; cached inputs of another size are never reused.
# A corpus-batch shard holds as many documents as the program's sf0.01
# `documents` table (500). stream-folds has the shape of the program's q84
# evolving-ingest query on that table: the base index holds 90 % of it
# (450) and each micro-batch 5 % (25), and half of a micro-batch is
# duplicates, as in q84's second batch. The corpus-batch duplicate and
# short-document shares are not taken from any caller.
SIZES = {
    "corpus-batch": dict(shards=24, docs_per_shard=500, exact_share=0.06,
                         near_share=0.06, short_share=0.08),
    "stream-folds": dict(base_docs=450, files=200, docs_per_file=25,
                         exact_share=0.15, near_share=0.25, inbatch_share=0.10),
}
VOCAB_SIZE = 2500
STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
SHINGLE_K = 3  # word shingles, as every LSH caller of the program uses


def size_tag(workload):
    return json.dumps(SIZES[workload], sort_keys=True)


def vocabulary():
    """A fixed word list (independent of --seed): lowercase a-z words of
    3 to 9 letters, so tokenisation, shingling and BPE are unambiguous."""
    r = random.Random(1234567)
    words, seen = [], set(STOPS)
    while len(words) < VOCAB_SIZE:
        w = "".join(r.choice("etaoinshrdlcumwfgypbvk") for _ in range(r.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class TextMaker:
    def __init__(self, rng):
        self.rng = rng
        self.words = vocabulary() + STOPS
        # Zipf-like weights: frequent words give BPE real merges.
        w = [1.0 / (i + 10) for i in range(VOCAB_SIZE)] + [0.02] * len(STOPS)
        acc, self.cum = 0.0, []
        for x in w:
            acc += x
            self.cum.append(acc)

    def doc(self, n_words):
        ws = self.rng.choices(self.words, cum_weights=self.cum, k=n_words)
        ws[0], ws[1] = "the", "of"  # at least two distinct stop words
        return ws

    def near_copy(self, ws):
        """One word replaced away from both ends: shingle Jaccard
        (n-5)/(n+1) for an n-word document of distinct 3-shingles, 0.92 or
        more at 80 words."""
        out = list(ws)
        p = self.rng.randint(SHINGLE_K, len(ws) - SHINGLE_K - 1)
        while True:
            w = self.rng.choice(self.words[:VOCAB_SIZE])
            if w != out[p]:
                out[p] = w
                return out


def render(ws):
    """Words joined by single spaces, a newline every 20 words."""
    parts = []
    for i, w in enumerate(ws):
        if i:
            parts.append("\n" if i % 20 == 0 else " ")
        parts.append(w)
    return "".join(parts)


def shingles(ws):
    return {" ".join(ws[i:i + SHINGLE_K]) for i in range(len(ws) - SHINGLE_K + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def png(width, height, key):
    """A valid RGB PNG of the given size (stored, then zlib-compressed rows)."""
    rows = bytearray()
    for y in range(height):
        v = (key * 2654435761 + y * 17) & 0xFFFFFF
        rows += b"\x00" + bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF)) * width

    def chunk(tag, data):
        c = struct.pack(">I", len(data)) + tag + data
        return c + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(rows), 6)) + chunk(b"IEND", b""))


def write_parquet(files, columns, pattern):
    """files: one list of row tuples per output file, in `columns` order
    ((name, duckdb type) pairs); file i is written to pattern % i."""
    con = duckdb.connect()
    tmp = pattern.replace("%05d", "all") + ".jsonl"
    names = [c for c, _ in columns]
    with open(tmp, "w") as f:
        for i, rows in enumerate(files):
            for r in rows:
                f.write(json.dumps(dict(zip(names, r), __file=i)))
                f.write("\n")
    cols = ", ".join(f"'{c}': '{'VARCHAR' if t == 'BLOB' else t}'"
                     for c, t in columns + [("__file", "INTEGER")])
    sel = ", ".join(f'from_base64("{c}") AS "{c}"' if t == "BLOB" else f'"{c}"'
                    for c, t in columns)
    parts = os.path.dirname(pattern) + "/.parts"
    con.execute(f"COPY (SELECT {sel}, __file FROM read_json('{tmp}', "
                f"format='newline_delimited', columns={{{cols}}})) "
                f"TO '{parts}' (FORMAT PARQUET, PARTITION_BY (__file))")
    os.remove(tmp)
    for i in range(len(files)):
        (name,) = os.listdir(f"{parts}/__file={i}")
        os.rename(f"{parts}/__file={i}/{name}", pattern % i)
    shutil.rmtree(parts)


def gen_corpus_batch(rng, out, s):
    tm = TextMaker(rng)
    os.makedirs(f"{out}/shards")
    cols = [("doc_id", "BIGINT"), ("text", "VARCHAR"), ("source", "VARCHAR"),
            ("a", "DOUBLE"), ("b", "BIGINT"), ("c", "DOUBLE"), ("png", "BLOB")]
    exact, near = [], []  # (source id, copy id[, jaccard])
    doc_id, files = 0, []
    for sh in range(s["shards"]):
        rows, kept_words = [], []  # kept_words: long unique docs usable as sources
        for _ in range(s["docs_per_shard"]):
            doc_id += 1
            u = rng.random()
            if kept_words and u < s["exact_share"]:
                src_id, ws = rng.choice(kept_words)
                exact.append((src_id, doc_id))
            elif kept_words and u < s["exact_share"] + s["near_share"]:
                src_id, src = rng.choice(kept_words)
                ws = tm.near_copy(src)
                near.append((src_id, doc_id, jaccard(src, ws)))
            elif u > 1 - s["short_share"]:
                ws = tm.doc(rng.randint(12, 40))  # fails the Gopher word-count rule
            else:
                ws = tm.doc(rng.randint(80, 140))
                kept_words.append((doc_id, ws))
            a = None if rng.random() < 0.05 else round(rng.uniform(-1000, 1000), 3)
            b = None if rng.random() < 0.05 else rng.randint(-500, 500)
            c = None if rng.random() < 0.03 else (0.0 if rng.random() < 0.05
                                                  else round(rng.uniform(-50, 50), 2))
            img = png(rng.randint(8, 40), rng.randint(8, 40), doc_id)
            rows.append((doc_id, render(ws), "web", a, b, c,
                         base64.b64encode(img).decode()))
        files.append(rows)
    write_parquet(files, cols, f"{out}/shards/shard_%05d.parquet")
    write_truth(out, "exact", [("src_id", "BIGINT"), ("dup_id", "BIGINT")], exact)
    write_truth(out, "near", [("src_id", "BIGINT"), ("dup_id", "BIGINT"),
                              ("jaccard", "DOUBLE")], near)


def gen_stream_folds(rng, out, s):
    tm = TextMaker(rng)
    os.makedirs(f"{out}/base")
    os.makedirs(f"{out}/feed")
    cols = [("doc_id", "BIGINT"), ("text", "VARCHAR")]
    doc_id, sources = 0, []  # sources: docs certain to sit in the index
    base_rows = []
    for _ in range(s["base_docs"]):
        doc_id += 1
        ws = tm.doc(rng.randint(80, 140))
        sources.append((doc_id, ws))
        base_rows.append((doc_id, render(ws)))
    write_parquet([base_rows], cols, f"{out}/base/base_%05d.parquet")
    kinds, files = [], []  # kinds: (doc_id, kind, source id, jaccard)
    for f in range(s["files"]):
        rows, batch_new = [], []
        for _ in range(s["docs_per_file"]):
            doc_id += 1
            u = rng.random()
            if batch_new and u < s["inbatch_share"]:
                src_id, ws = rng.choice(batch_new)
                kinds.append((doc_id, "exact", src_id, 1.0))
            elif u < s["inbatch_share"] + s["exact_share"]:
                src_id, ws = rng.choice(sources)
                kinds.append((doc_id, "exact", src_id, 1.0))
            elif u < s["inbatch_share"] + s["exact_share"] + s["near_share"]:
                src_id, src = rng.choice(sources)
                ws = tm.near_copy(src)
                kinds.append((doc_id, "near", src_id, jaccard(src, ws)))
            else:
                ws = tm.doc(rng.randint(80, 140))
                kinds.append((doc_id, "unrelated", None, 0.0))
                batch_new.append((doc_id, ws))
            rows.append((doc_id, render(ws)))
        sources.extend(batch_new)
        files.append(rows)
    pattern = f"{out}/feed/part_%05d.parquet"
    write_parquet(files, cols, pattern)
    write_truth(out, "kinds", [("doc_id", "BIGINT"), ("kind", "VARCHAR"),
                               ("src_id", "BIGINT"), ("jaccard", "DOUBLE")], kinds)
    write_truth(out, "files", [("file", "VARCHAR"), ("rows", "BIGINT")],
                [(os.path.basename(pattern % i), len(f)) for i, f in enumerate(files)])


def write_truth(out, name, columns, rows):
    """One ground-truth table, as out/truth/<name>/part_00000.parquet."""
    os.makedirs(f"{out}/truth/{name}")
    write_parquet([rows], columns, f"{out}/truth/{name}/part_%05d.parquet")


GENERATORS = {"corpus-batch": gen_corpus_batch, "stream-folds": gen_stream_folds}


def generate(workload, seed, out):
    marker = f"{out}/done"
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()
    want = json.dumps({"workload": workload, "seed": seed, "size": size_tag(workload),
                       "generator": version})
    if os.path.exists(marker) and open(marker).read() == want:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = random.Random(f"{workload}/{seed}")
    GENERATORS[workload](rng, out, SIZES[workload])
    with open(marker, "w") as f:
        f.write(want)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
