#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload wordcount --seed 7 --out DIR

The same (workload, seed) always yields byte-identical files. The engine
only ever sees these files; the expected answers written next to them are
for the benchmark's correctness gates.

wordcount   DIR/text/part-NN.txt  Zipf(s=1.1) text over a 120k-word
            vocabulary (every 20th rank Cyrillic, word length fixed by
            rank), sentence case and commas
            DIR/expected.tsv      exact lowercase token tallies (word, count)
near_dedup  DIR/documents.parquet the engine's `documents` schema (doc_id,
                                  text, lang, source, n_chars): five language
                                  vocabularies, 18 sources, 20% planted
                                  copies with 1%, 5% or 30% token edits
Both write DIR/meta.json with the input size and the generator's counts.
"""
import argparse
import json
import os
import sys
import zlib

import numpy as np

# Input sizes. They are fixed here rather than taken as arguments so that
# every run of a workload measures the same amount of work.
WORDCOUNT_TOKENS = 800_000
WORDCOUNT_FILES = 8
WORDCOUNT_VOCAB = 120_000
DOCS = {"near_dedup": 4_000}

LATIN = "abcdefghijklmnopqrstuvwxyz"
CYRILLIC = "абвгдежзийклмнопрстуфхцчшщыьэюя"

# Per-language syllable inventories and function words. The inventories
# are disjoint enough that a character-trigram language model separates
# the languages, as the crawl chain's language-ID gate expects. English
# carries the stopwords the chain's quality gate counts.
LANGS = {
    "en": (["th", "er", "an", "ing", "on", "st", "re", "ow", "ly", "ck"],
           ["the", "a", "and", "of", "to", "is", "in", "that", "it", "was"]),
    "es": (["os", "ar", "ci", "ue", "ez", "ll", "ado", "ja", "rr", "io"],
           ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"]),
    "de": (["sch", "ei", "ung", "ch", "au", "ie", "tz", "en", "ber", "ss"],
           ["der", "die", "und", "das", "ist", "nicht", "mit", "den", "ein", "zu"]),
    "fr": (["eau", "ou", "ai", "oi", "ent", "qu", "ille", "eu", "on", "ez"],
           ["le", "les", "des", "est", "une", "pas", "pour", "qui", "dans", "sur"]),
    "zh": (["zh", "xi", "ang", "ong", "qi", "uan", "shi", "yu", "hao", "ji"],
           ["de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"]),
}
LANG_SHARE = {"en": 0.40, "es": 0.15, "de": 0.15, "fr": 0.15, "zh": 0.15}
LANG_VOCAB = 3_000
SOURCES = 18
COPY_SHARE = 0.20
EDIT_RATES = (0.01, 0.05, 0.30)


def rank_words(rng, n):
    """n distinct random words; the word at rank r has 4 + r % 8 letters and
    is Cyrillic when r % 20 == 7, so the text's byte size does not depend
    on the seed."""
    alphabets = [np.array(list(LATIN)), np.array(list(CYRILLIC))]
    out, taken = [], set()
    for r in range(n):
        letters = alphabets[r % 20 == 7]
        while True:
            w = "".join(letters[rng.integers(0, len(letters), size=4 + r % 8)])
            if w not in taken:
                break
        taken.add(w)
        out.append(w)
    return np.array(out, dtype=object)


def zipf_draws(rng, n_items, s, size):
    """`size` ranks in [0, n_items) with P(rank k) proportional to (k+1)^-s."""
    cdf = np.cumsum(np.arange(1, n_items + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


def gen_wordcount(rng, out):
    vocab = rank_words(rng, WORDCOUNT_VOCAB)
    idx = zipf_draws(rng, WORDCOUNT_VOCAB, 1.1, WORDCOUNT_TOKENS)
    toks = vocab[idx]
    # sentence case on the first token of each 12-token line, commas after
    # ~6% of tokens: the tokenizer must lowercase and strip both
    line_len = 12
    first = np.arange(0, WORDCOUNT_TOKENS, line_len)
    toks[first] = [w[0].upper() + w[1:] for w in toks[first]]
    comma = np.flatnonzero(rng.random(WORDCOUNT_TOKENS) < 0.06)
    toks[comma] = [w + "," for w in toks[comma]]
    lines = [" ".join(toks[i:i + line_len]) + "." for i in first]
    os.makedirs(os.path.join(out, "text"))
    per_file = -(-len(lines) // WORDCOUNT_FILES)
    total_bytes = 0
    for f in range(WORDCOUNT_FILES):
        data = ("\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n").encode("utf-8")
        total_bytes += len(data)
        with open(os.path.join(out, "text", f"part-{f:02d}.txt"), "wb") as fh:
            fh.write(data)
    counts = np.bincount(idx, minlength=WORDCOUNT_VOCAB)
    seen = np.flatnonzero(counts)
    with open(os.path.join(out, "expected.tsv"), "wb") as fh:
        fh.write("".join(f"{vocab[i]}\t{counts[i]}\n" for i in seen).encode("utf-8"))
    return {"input_bytes": total_bytes, "tokens": WORDCOUNT_TOKENS,
            "distinct_words": int(len(seen)), "files": WORDCOUNT_FILES}


def lang_vocab(rng, lang):
    syll, func = LANGS[lang]
    words, taken = list(func), set(func)
    while len(words) < LANG_VOCAB:
        k = int(rng.integers(1, 4))
        w = "".join(syll[i] for i in rng.integers(0, len(syll), size=k))
        w += LATIN[int(rng.integers(0, 26))]
        if w not in taken:
            taken.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def quota(n, shares):
    """n keys, each appearing round(n * share) times (the first takes the
    rounding remainder): every seed gets the same mix, in its own order."""
    keys = list(shares)
    counts = [int(n * shares[k]) for k in keys]
    counts[0] += n - sum(counts)
    return np.repeat(np.array(keys, dtype=object), counts)


def gen_docs(rng, out, n_docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    # the amount of work (languages, lengths, copies per edit rate, docs
    # per source) is the same for every seed; only the content varies
    langs = list(LANGS)
    vocabs = {l: lang_vocab(rng, l) for l in langs}
    n_copies = int(n_docs * COPY_SHARE)
    n_base = n_docs - n_copies
    doc_lang = rng.permutation(quota(n_base, LANG_SHARE))
    lengths = rng.permutation(30 + np.arange(n_base) * 91 // n_base)  # 30..120 tokens
    base = [vocabs[l][zipf_draws(rng, LANG_VOCAB, 0.9, int(n))]
            for l, n in zip(doc_lang, lengths)]
    by_lang = {l: np.flatnonzero(doc_lang == l) for l in langs}
    texts, lang_col, edits = [" ".join(t) for t in base], list(doc_lang), []
    rates = rng.permutation(np.resize(np.array(EDIT_RATES), n_copies))
    for l, rate in zip(rng.permutation(quota(n_copies, LANG_SHARE)), rates):
        b = int(rng.choice(by_lang[l]))
        toks = base[b].copy()
        hit = np.flatnonzero(rng.random(len(toks)) < rate)
        toks[hit] = vocabs[l][rng.integers(0, LANG_VOCAB, size=len(hit))]
        texts.append(" ".join(toks))
        lang_col.append(l)
        edits.append(float(rate))
    # copies land at random doc_ids, not after their originals
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    lang_col = [str(lang_col[i]) for i in order]
    sources = [f"src{int(i)}" for i in rng.permutation(np.arange(n_docs) % SOURCES)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang_col, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return {"input_bytes": os.path.getsize(path), "docs": n_docs,
            "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
            "planted_copies": n_copies,
            "copies_by_edit_rate": {str(r): edits.count(r) for r in EDIT_RATES}}


def generate(workload, seed, out):
    rng = np.random.default_rng([seed % (1 << 63), zlib.crc32(workload.encode())])
    os.makedirs(out)
    meta = gen_wordcount(rng, out) if workload == "wordcount" else \
        gen_docs(rng, out, DOCS[workload])
    meta.update(workload=workload, seed=seed)
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    return meta


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["wordcount"] + sorted(DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to create")
    a = ap.parse_args()
    if os.path.exists(a.out):
        sys.exit(f"gen.py: {a.out} already exists")
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
