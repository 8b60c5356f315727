"""Seeded word-count corpus for the benchmark.

The tables the registry rows and the index estate read are the repo's
sf0.01 fixture tables, copied as they are into perfbench/data/sf0.01/.
Only the word-count corpus is made here, from the run's seed: its size
is fixed, so two seeds give corpora of the same size and shape but
different tokens.
"""
import collections
import json
import os

import numpy as np


def _alpha_word(i):
    """i-th token of the unique tail: letters only, so the engine's
    alpha tokenizer keeps it whole."""
    s = ""
    i += 26 * 26 * 26
    while i:
        i, r = divmod(i, 26)
        s = chr(ord("a") + r) + s
    return "tail" + s


def corpus(out, seed, n_files, tokens_per_file, vocab=5000, zipf_s=1.1,
           tail_frac=0.05):
    """Multi-file text corpus: a Zipf(s) vocabulary of `vocab` words plus
    a `tail_frac` share of tokens that each occur once. Writes the
    files and `expected.tsv` (word, count); returns the corpus facts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    ranks = np.arange(1, vocab + 1)
    p = ranks ** -zipf_s
    p /= p.sum()
    words = [f"w{_alpha_word(r)[4:]}" for r in range(vocab)]
    counts = collections.Counter()
    files, total, tail_next = [], 0, 0
    for f in range(n_files):
        toks = [words[i] for i in rng.choice(vocab, tokens_per_file, p=p)]
        n_tail = int(tokens_per_file * tail_frac)
        for pos in rng.integers(0, len(toks), n_tail):
            toks[pos] = _alpha_word(tail_next)
            tail_next += 1
        counts.update(toks)
        total += len(toks)
        lines = [" ".join(toks[i:i + 12]) for i in range(0, len(toks), 12)]
        path = os.path.abspath(f"{out}/part-{f:03d}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append(path)
    with open(f"{out}/expected.tsv", "w") as fh:
        for w, c in sorted(counts.items()):
            fh.write(f"{w}\t{c}\n")
    facts = {"files": files,
             "bytes": sum(os.path.getsize(f) for f in files),
             "tokens": total, "distinct": len(counts),
             "distinct_ratio": len(counts) / total}
    with open(f"{out}/corpus.json", "w") as fh:
        json.dump(facts, fh)
    return facts
