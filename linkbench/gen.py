"""Seeded input generators for the link-prediction benchmark.

Every generator is a pure function of (seed, size): the same seed writes the
same bytes. Each one writes its inputs, the planted-pair list the correctness
checks score against (`planted_pairs.tsv`), and a `manifest.json` with the
sizes, then re-reads what it wrote and validates it (line counts, field
counts, parquet schema) before returning.

Workload inputs:

* `p1`: the reference's four file formats (node_information.csv,
  training_set.txt, testing_set.txt, Cit-HepTh.txt) with planted topic
  structure, so the learned F1 is well above the all-positive baseline.
* `documents`: documents.parquet in the engine's corpus schema (doc_id int64, text,
  lang, source, n_chars = length(text)) with planted near-duplicate clusters
  and a fixed exact-twin share.
"""
import csv
import json
import os

import numpy as np

# Paper sizes (27,770 papers) and the per-paper ratios they imply.
P1_TRAIN_PER_PAPER = 615512 / 27770
P1_TEST_PER_PAPER = 32648 / 27770
P1_CITES_PER_PAPER = 352807 / 27770
P1_TRAIN_POS_SHARE = 0.544

LANGS = ["en", "de", "fr", "es", "it"]
SOURCES = ["web", "news", "wiki", "forum", "books"]

# No document pair may have a shingle Jaccard in [JACCARD_GAP_LO, 0.5): the
# engine's p2 join scores Jaccard over 4096 hashed shingle features, and a
# gap below the 0.5 cut keeps the hashed and the exact Jaccard on the same
# side of it, so the benchmark's exact recomputation is a fair check.
JACCARD_GAP_LO = 0.40


def vocabulary(rng, n):
    """n distinct lowercase pseudo-words of 3 to 9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def shingles(tokens):
    """Distinct word bigrams, as TextAnalysis.bigramShingles + array_distinct."""
    return {tokens[i] + " " + tokens[i + 1] for i in range(len(tokens) - 1)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def _write_manifest(out_dir, manifest):
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


def _line_fields(path, sep):
    n, widths = 0, set()
    with open(path) as f:
        for line in f:
            if line.startswith("#"):
                continue
            n += 1
            widths.add(len(line.rstrip("\n").split(sep)))
    return n, widths


# ---------------------------------------------------------------- p1 ----

def gen_p1(out_dir, seed, papers):
    """The reference's p1 inputs at `papers` nodes (27,770 is paper size).

    Topic structure: each paper has one topic; title words, abstract words,
    authors and journal lean on that topic's pools. Citations go mostly to
    same-topic, older papers. Training and test negatives are 85% random
    pairs and 15% same-topic non-citations, so the task is learnable but
    not trivial. Test positives are citations held out of the training set.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = papers
    n_topics = max(8, n // 100)
    vocab = vocabulary(rng, 30000)
    topic_words = [rng.choice(len(vocab), 150, replace=False)
                   for _ in range(n_topics)]
    surnames = vocabulary(rng, 4000)
    topic_authors = [rng.choice(len(surnames), 40, replace=False)
                     for _ in range(n_topics)]
    journals = np.array(["J.Phys.%s" % chr(65 + i // 26) + chr(65 + i % 26)
                         for i in range(60)])
    topic_journals = [rng.choice(60, 3, replace=False) for _ in range(n_topics)]

    topic = rng.integers(0, n_topics, n)
    year = rng.integers(1993, 2004, n)
    ids = np.arange(9200001, 9200001 + n)
    by_topic = [np.flatnonzero(topic == t) for t in range(n_topics)]

    def words(t, k, share):
        own = rng.random(k) < share
        w = np.where(own, topic_words[t][rng.integers(0, 150, k)],
                     rng.integers(0, len(vocab), k))
        return " ".join(vocab[w])

    rows = []
    for i in range(n):
        t = topic[i]
        authors = ",".join("%s.%s" % (chr(65 + int(rng.integers(0, 26))),
                                      surnames[a].capitalize())
                           for a in rng.choice(topic_authors[t],
                                               int(rng.integers(1, 5)),
                                               replace=False))
        journal = (journals[rng.choice(topic_journals[t])]
                   if rng.random() < 0.6 else "")
        abstract = words(t, int(rng.integers(40, 90)), 0.5) \
            if rng.random() < 0.95 else ""
        rows.append((str(ids[i]), str(year[i]), words(t, int(rng.integers(5, 12)), 0.6),
                     authors, journal, abstract))
    with open(os.path.join(out_dir, "node_information.csv"), "w",
              newline="") as f:
        csv.writer(f, lineterminator="\n").writerows(rows)

    # ground-truth citations: src cites an older (or same-year) paper,
    # 90% of them in src's own topic
    n_cites = int(round(P1_CITES_PER_PAPER * n))
    src = rng.integers(0, n, n_cites * 2)
    order = np.argsort(topic, kind="stable")
    start = np.searchsorted(topic[order], np.arange(n_topics))
    count = np.bincount(topic, minlength=n_topics)
    t = topic[src]
    in_topic = order[start[t] + (rng.random(len(src)) * count[t]).astype(np.int64)]
    dst = np.where(rng.random(len(src)) < 0.9, in_topic,
                   rng.integers(0, n, len(src)))
    flip = year[dst] > year[src]
    src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
    keys = np.unique((src * n + dst)[src != dst])
    keys = rng.permutation(keys)[:n_cites]
    cites = set(keys.tolist())

    n_test = int(round(P1_TEST_PER_PAPER * n))
    n_test_pos = n_test // 2
    test_pos = keys[:n_test_pos]
    n_train = int(round(P1_TRAIN_PER_PAPER * n))
    n_train_pos = min(int(round(P1_TRAIN_POS_SHARE * n_train)),
                      len(keys) - n_test_pos)
    train_pos = keys[n_test_pos:n_test_pos + n_train_pos]

    used = set(test_pos.tolist()) | set(train_pos.tolist())

    def negatives(count):
        out = []
        while len(out) < count:
            a = int(rng.integers(0, n))
            if rng.random() < 0.15:
                pool = by_topic[topic[a]]
                b = int(pool[rng.integers(0, len(pool))])
            else:
                b = int(rng.integers(0, n))
            k = a * n + b
            if a != b and k not in cites and k not in used:
                used.add(k)
                out.append(k)
        return np.array(out, dtype=np.int64)

    train_neg = negatives(n_train - len(train_pos))
    test_neg = negatives(n_test - n_test_pos)

    def pair_lines(keys_, sep, label=None):
        a, b = ids[keys_ // n], ids[keys_ % n]
        if label is None:
            return ["%d%s%d" % (x, sep, y) for x, y in zip(a, b)]
        return ["%d%s%d%s%d" % (x, sep, y, sep, label) for x, y in zip(a, b)]

    train = pair_lines(train_pos, " ", 1) + pair_lines(train_neg, " ", 0)
    train = [train[i] for i in rng.permutation(len(train))]
    test_keys = rng.permutation(np.concatenate([test_pos, test_neg]))
    files = {
        "training_set.txt": train,
        "testing_set.txt": pair_lines(test_keys, " "),
        "Cit-HepTh.txt": ["# Directed graph: synthetic citations",
                          "# FromNodeId\tToNodeId"] +
                         pair_lines(np.sort(keys), "\t"),
        "planted_pairs.tsv": pair_lines(np.sort(test_pos), "\t"),
    }
    for name, lines in files.items():
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")

    manifest = {"workload_input": "p1", "seed": seed, "papers": n,
                "training_edges": len(train), "testing_edges": n_test,
                "test_positives": n_test_pos, "citations": len(keys),
                "topics": n_topics}
    validate_p1(out_dir, manifest)
    _write_manifest(out_dir, manifest)
    return manifest


def validate_p1(out_dir, m):
    with open(os.path.join(out_dir, "node_information.csv"), newline="") as f:
        widths = [len(r) for r in csv.reader(f)]
    _expect(len(widths) == m["papers"] and set(widths) == {6},
            "node_information.csv: %d rows, field counts %s"
            % (len(widths), sorted(set(widths))))
    for name, sep, rows, width in [
            ("training_set.txt", " ", m["training_edges"], 3),
            ("testing_set.txt", " ", m["testing_edges"], 2),
            ("Cit-HepTh.txt", "\t", m["citations"], 2),
            ("planted_pairs.tsv", "\t", m["test_positives"], 2)]:
        n, w = _line_fields(os.path.join(out_dir, name), sep)
        _expect(n == rows and w == {width},
                "%s: %d lines (want %d), field counts %s (want %d)"
                % (name, n, rows, sorted(w), width))


# --------------------------------------------------------- documents ----

def gen_documents(out_dir, seed, n_docs, twin_share, cluster_share=0.3):
    """documents.parquet with planted near-duplicate clusters.

    Distinct documents are random word soup (40 to 80 words from a 20,000
    word vocabulary, so unrelated documents share no bigram in practice) or
    members of near-duplicate clusters of 2 to 4: variants of a base text
    with a few words replaced. `twin_share` of all rows are exact copies
    (same text and lang, new doc_id) of distinct documents. The planted
    list holds every pair with exact shingle Jaccard >= 0.5.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = vocabulary(rng, 20000)
    n_twins = int(round(n_docs * twin_share))
    n_distinct = n_docs - n_twins
    if n_twins > n_distinct:
        raise ValueError("twin_share above 0.5 would need twin classes > 2")

    texts, langs, clusters = [], [], []
    n_clustered = int(round(n_distinct * cluster_share))
    while len(texts) < n_clustered:
        size = int(rng.integers(2, 5))
        base = list(vocab[rng.integers(0, len(vocab), rng.integers(40, 81))])
        members = [base]
        sets = [shingles(base)]
        while len(members) < size:
            v = list(base)
            for p in rng.choice(len(v), int(rng.integers(2, 6)), replace=False):
                v[p] = vocab[rng.integers(0, len(vocab))]
            sv = shingles(v)
            js = [jaccard(sv, s) for s in sets]
            if all(j < 1.0 and not JACCARD_GAP_LO <= j < 0.5 for j in js):
                members.append(v)
                sets.append(sv)
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        first = len(texts)
        for m in members:
            texts.append(" ".join(m))
            langs.append(lang)
        clusters.append(list(range(first, len(texts))))
    while len(texts) < n_distinct:
        texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                 rng.integers(40, 81))]))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    texts, langs = texts[:n_distinct], langs[:n_distinct]

    # rows: every distinct document once, then the twins; doc ids are a
    # random permutation so twins are not adjacent in id order
    origin = list(range(n_distinct)) + \
        rng.choice(n_distinct, n_twins, replace=False).tolist()
    doc_ids = rng.permutation(n_docs).astype(np.int64) + 1
    copies = {}
    for row, o in enumerate(origin):
        copies.setdefault(o, []).append(int(doc_ids[row]))

    planted = []
    for ids in copies.values():
        planted += [(a, b, 1.0) for i, a in enumerate(ids) for b in ids[i + 1:]]
    for c in clusters:
        c = [m for m in c if m < n_distinct]
        sets = {m: shingles(texts[m].split(" ")) for m in c}
        for i, x in enumerate(c):
            for y in c[i + 1:]:
                j = jaccard(sets[x], sets[y])
                if j >= 0.5:
                    planted += [(a, b, j) for a in copies[x] for b in copies[y]]
    planted = sorted((min(a, b), max(a, b), j) for a, b, j in planted)

    row_texts = [texts[o] for o in origin]
    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(row_texts, pa.string()),
        "lang": pa.array([langs[o] for o in origin], pa.string()),
        "source": pa.array([SOURCES[i] for i in
                            rng.integers(0, len(SOURCES), n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in row_texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    with open(os.path.join(out_dir, "planted_pairs.tsv"), "w") as f:
        f.writelines("%d\t%d\t%.17g\n" % p for p in planted)

    manifest = {"workload_input": "documents", "seed": seed,
                "documents": n_docs, "distinct_texts": n_distinct,
                "twin_share": twin_share, "clusters": len(clusters),
                "planted_pairs": len(planted)}
    validate_documents(out_dir, manifest)
    _write_manifest(out_dir, manifest)
    return manifest


DOCUMENTS_SCHEMA = [("doc_id", "int64"), ("text", "string"),
                    ("lang", "string"), ("source", "string"),
                    ("n_chars", "int64")]


def validate_documents(out_dir, m):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(out_dir, "documents.parquet"))
    schema = [(f.name, str(f.type)) for f in t.schema]
    _expect(schema == DOCUMENTS_SCHEMA, "documents schema %s" % schema)
    _expect(t.num_rows == m["documents"], "documents: %d rows" % t.num_rows)
    _expect(len(pc.unique(t["doc_id"])) == t.num_rows, "doc_id not unique")
    _expect(pc.all(pc.equal(pc.utf8_length(t["text"]), t["n_chars"])).as_py(),
            "n_chars != length(text)")
    _expect(len(pc.unique(t["text"])) == m["distinct_texts"],
            "distinct texts: %d" % len(pc.unique(t["text"])))
    n, widths = _line_fields(os.path.join(out_dir, "planted_pairs.tsv"), "\t")
    _expect(n == m["planted_pairs"] and widths <= {3},
            "planted_pairs.tsv: %d lines, field counts %s" % (n, widths))


def _expect(ok, what):
    if not ok:
        raise RuntimeError("generated input failed validation: " + what)
