"""Seeded inputs for the layered benchmark.

Two generators, both single-process and deterministic in their seed:

* `zipf_text` writes the word-count workload's text: words drawn from a
  Zipf(s) law over a fixed vocabulary, `min_words`..`max_words` words per
  line. Word `r` (1-based frequency rank) is the bijective base-26 spelling
  of `r`, so frequent words are short, as in natural text.
* `doc_tables` writes the `documents` and `events` parquet tables the
  registered query rows read, in the shape of the project's sf-scaled test
  data: `documents` is 5,000 rows per unit of scale (10-100 words from a
  30-word vocabulary, 5% planted near-duplicates tagged `dup`, a few exact
  duplicates, 20 round-robin sources) and `events` is 100,000 rows over 30
  days of 1,500 users.

`cached` keeps each output under a cache directory by its parameters,
with a `.json` sidecar that records its size (bytes, lines, tokens,
distinct words or rows).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = ("a the data row key value table column query scan filter join "
             "group agg sort order merge hash window stream batch part line "
             "spark vector customer big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOCS_PER_SCALE = 5_000
EVENTS_PER_SCALE = 100_000
USERS_PER_SCALE = 1_500
START_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00
SPAN_US = 30 * 86_400 * 10**6


def _spell(rank):
    """Bijective base-26 spelling of a 1-based rank: 1 -> a, 27 -> aa."""
    s = []
    while rank > 0:
        rank, r = divmod(rank - 1, 26)
        s.append(chr(97 + r))
    return "".join(reversed(s))


def zipf_text(path, seed, mb, exponent=1.05, vocab=4_000_000,
              min_words=5, max_words=40):
    """Write ~`mb` MB of Zipf text to `path`; return its stats dict."""
    rng = np.random.default_rng(seed)
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -exponent)
    cdf /= cdf[-1]
    target = int(mb * 1_000_000)
    # a token (word + separator) averages ~3.5 bytes under this law;
    # draw more than needed and cut at the target size
    n_tok = int(target / 3.0)
    ranks = np.searchsorted(cdf, rng.random(n_tok), side="right") + 1
    uniq, inv = np.unique(ranks, return_inverse=True)
    words = np.array([_spell(int(r)) for r in uniq], dtype=object)[inv]
    per_line = rng.integers(min_words, max_words + 1, size=n_tok // min_words)
    ends = np.cumsum(per_line)
    lines, size, start = [], 0, 0
    for end in ends:
        if end > n_tok or size >= target:
            break
        line = " ".join(words[start:end])
        lines.append(line)
        size += len(line) + 1
        start = end
    text = "\n".join(lines) + "\n"
    with open(path, "w", encoding="ascii") as f:
        f.write(text)
    return {"bytes": len(text), "lines": len(lines), "tokens": int(start),
            "distinct_words": int(len(np.unique(ranks[:start])))}


def _documents(rng, n):
    n_words = rng.integers(10, 101, size=n)
    vocab = np.array(DOC_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)])
             for k in n_words]
    # plant near-duplicates (an earlier doc with ~5% of its words
    # replaced, tagged `dup`) and a few verbatim copies
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split(" ")
        for j in np.flatnonzero(rng.random(len(words)) < 0.05):
            words[j] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        texts[i] = " ".join(words) + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng, n, users):
    ts = np.sort(START_US + rng.integers(0, SPAN_US, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def doc_tables(out_dir, seed, scale):
    """Write both tables at `scale` into `out_dir`; return their stats."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for i, name in enumerate(("documents", "events")):
        # one random stream per table
        rng = np.random.default_rng([seed, i])
        if name == "documents":
            t = _documents(rng, int(DOCS_PER_SCALE * scale))
        else:
            t = _events(rng, int(EVENTS_PER_SCALE * scale),
                        int(USERS_PER_SCALE * scale))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return stats


def cached(cache_dir, key, build):
    """Return (path, stats) for `key` under `cache_dir`, building once.

    `build(tmp_path)` writes the input at `tmp_path` and returns its stats;
    the result is renamed into place only when complete."""
    path = os.path.join(cache_dir, key)
    meta = path + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    stats = build(tmp)
    os.replace(tmp, path)
    with open(meta, "w") as f:
        json.dump(stats, f)
    return path, stats

