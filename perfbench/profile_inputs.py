#!/usr/bin/env python3
"""Profile an input directory of the lakehouse benchmark.

    python3 perfbench/profile_inputs.py <dir>

<dir> holds events.parquet, documents.parquet and embeddings.parquet in the
layout graft.sources.Tables reads: the engine's test tables, or the inputs
perfbench.Inputs generates, which run.py keeps with --keep-inputs <dir>.
Prints the figures the generator's parameters come from, one per line, so
two directories can be compared with diff. Needs duckdb, pyarrow and numpy;
it is a tool for checking the generator, not part of a benchmark run.
"""
import collections
import difflib
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq


def show(name, value):
    if isinstance(value, float):
        value = round(value, 4)
    elif isinstance(value, (list, tuple)):
        value = [round(v, 4) if isinstance(v, float) else v for v in value]
    print(f"{name}: {value}")


def parts(path):
    """A table as Spark writes it (a directory of part files) or as one file."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def events(c, path):
    ts = pq.ParquetFile(parts(path)[0]).schema.column(1)
    show("events.ts_encoding", str(ts.logical_type))
    r = c.sql(f"""SELECT count(*), count(DISTINCT user_id), count(*) FILTER (WHERE user_id IS NULL),
        count(DISTINCT CAST(ts AS DATE)), min(ts)::VARCHAR, max(ts)::VARCHAR,
        count(*) FILTER (WHERE value < 0), avg(value),
        quantile_cont(value, [0.1, 0.5, 0.9, 0.99]), count(DISTINCT props)
        FROM events""").fetchone()
    for k, v in zip(["rows", "users", "null_users", "days", "ts_min", "ts_max", "negative_values",
                     "value_mean", "value_q10_q50_q90_q99", "distinct_props"], r):
        show(f"events.{k}", v)
    show("events.rows_per_user", r[0] / r[1])
    show("events.ts_ascending_with_event_id", c.sql(f"""SELECT count(*) = 0 FROM (SELECT ts,
        lag(ts) OVER (ORDER BY event_id) AS prev FROM events) WHERE ts < prev""").fetchone()[0])
    mix = c.sql(f"SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1").fetchall()
    show("events.type_share", [(t, n / r[0]) for t, n in mix])


def documents(c):
    r = c.sql(f"""SELECT count(*), count(DISTINCT text), count(DISTINCT source),
        quantile_cont(len(string_split(text, ' ')), [0, 0.1, 0.5, 0.9, 1]),
        count(*) FILTER (WHERE n_chars <> length(text))
        FROM documents""").fetchone()
    for k, v in zip(["rows", "distinct_texts", "sources", "words_q0_q10_q50_q90_q100",
                     "n_chars_mismatch"], r):
        show(f"documents.{k}", v)
    vocab = c.sql(f"SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w "
                  f"FROM documents)").fetchone()[0]
    show("documents.vocabulary", vocab)
    langs = c.sql(f"SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1").fetchall()
    show("documents.lang_share", [(l, n / r[0]) for l, n in langs])
    # near-copies: documents sharing their first six words with an earlier one
    docs = dict(c.sql(f"SELECT doc_id, text FROM documents").fetchall())
    groups = collections.defaultdict(list)
    for d in sorted(docs):
        groups[tuple(docs[d].split()[:6])].append(d)
    edits = collections.Counter()
    for ds in groups.values():
        for d in ds[1:]:
            a, b = docs[ds[0]].split(), docs[d].split()
            ops = [(o, i2 - i1, j2 - j1, "end" if i1 == len(a) or i2 == len(a) else "inner")
                   for o, i1, i2, j1, j2 in difflib.SequenceMatcher(a=a, b=b, autojunk=False).get_opcodes()
                   if o != "equal"]
            edits[str(ops) if ops else "exact"] += 1
    copies = sum(edits.values())
    show("documents.near_copy_share", copies / r[0])
    show("documents.near_copy_edits", [(e, n / copies) for e, n in edits.most_common(4)])


def embeddings(path):
    t = pq.read_table(path).to_pydict()
    x = np.array(t["embedding"], dtype=np.float64)
    labels = np.array(t["label"])
    show("embeddings.rows", len(x))
    show("embeddings.dim", x.shape[1])
    show("embeddings.labels", len(set(labels)))
    show("embeddings.norm_min_max", [float(np.linalg.norm(x, axis=1).min()),
                                     float(np.linalg.norm(x, axis=1).max())])
    # a label's mean vector times √(its size): about 1 when vector and label
    # are independent, larger when the label marks a cluster
    show("embeddings.label_mean_norm_x_sqrt_size",
         float(np.mean([np.linalg.norm(x[labels == l].mean(0)) * np.sqrt((labels == l).sum())
                        for l in set(labels)])))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    c = duckdb.connect()
    # a view per table, so the queries read a file and a directory alike
    for t in ("events", "documents"):
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({parts(os.path.join(d, t + '.parquet'))})")
    events(c, os.path.join(d, "events.parquet"))
    documents(c)
    embeddings(parts(os.path.join(d, "embeddings.parquet")))


if __name__ == "__main__":
    main()
