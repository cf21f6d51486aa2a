"""Seeded input generator for the benchmark.

Writes, into one directory, everything the engine sees during a run:

  source.parquet        the bulk source table (repo, path, commit, lang, content)
  source_sha.parquet    sha256 of every source row's content, for the build check
  updates/round_NN.parquet  one batch per update round: re-versions + new keys
  queries.tsv           the single-client query stream (shape, cold flag, query)
  warm.parquet          the warm-up documents, built before timing starts
  warm_queries.tsv      one query of each template over them, run before timing starts
  catalog/documents.parquet  the driver catalog's `documents` table, for the
                        fulltext catalog entries of the traced run

The same (workload, seed) always gives byte-identical inputs. The generator
is independent of the engine's own fixture code, so a change to the engine
cannot change what the benchmark feeds it; its models copy the engine's
fixtures, as each docstring says.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYWORDS = [
    "def", "class", "return", "val", "var", "if", "else", "for", "while",
    "import", "package", "object", "trait", "extends", "override", "private",
    "public", "static", "void", "int", "string", "match", "case", "new",
    "null", "true", "false", "try", "catch", "final"]
LANGS = ["scala", "java", "py", "go", "rs"]
SEPS = np.array([" ", " ", " ", " ", " ", " ", "(", ";\n"], dtype=object)

# The query templates. Thirteen copy, one for one, the shapes of the
# engine's own reference serving queries (graft.Bench refQueries: "def",
# "return", "needle_7", "needle_13", "def AND class", "val AND return AND
# if", "def OR needle_3", "val OR needle_2", "(def AND return) OR needle_3",
# "ident_17 AND NOT ident_23", "\"class camelCaseName7\"", "ident_17*",
# "camelCaseName2*"); rare needles become identifiers drawn from a
# document. Two add the fuzzy and path: shapes, which refQueries lacks,
# once each like its rarest shapes. The order interleaves the shapes, so a
# run that gets through only part of the cycle still sees most of them.
TEMPLATES = [
    ("term", "kw"), ("and", "kw2"), ("or", "kw_ident"), ("term", "ident"),
    ("prefix", "ident"), ("phrase", "pair"), ("not", "ident_not_ident"), ("fuzzy", "ident"),
    ("term", "kw"), ("and", "kw3"), ("bool", "kw2_or_ident"), ("path", "file"),
    ("term", "ident"), ("or", "kw_ident"), ("prefix", "camel")]

# The catalog's documents table: the words of the driver's fixture
# vocabulary (sf `documents.text`: 30 words near-uniform, 10..99 words per
# row, five languages with en the most common, 20 sources).
CATALOG_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window"]
CATALOG_LANGS = ["en", "en", "fr", "es", "zh", "de"]


class Corpus:
    """Token model of the engine's fixture (graft.build.Datagen.content):
    per token 40% a keyword, 30% `ident_<n>` over `vocab` names, 10%
    `camelCaseName<n>` over vocab / 4 + 1 names, 10% a number below 1024,
    10% one of the first eight keywords again; each uniform. Separators and
    the 5..~1000 token-count spread are Datagen's too."""

    def __init__(self, rng, vocab):
        self.rng = rng
        self.vocab = vocab
        self.kw = np.array(KEYWORDS, dtype=object)
        self.idents = np.array([f"ident_{i}" for i in range(vocab)], dtype=object)
        self.camels = np.array([f"camelCaseName{i}" for i in range(vocab // 4 + 1)], dtype=object)
        self.nums = np.array([str(i) for i in range(1024)], dtype=object)

    def tokens(self, n):
        rng = self.rng
        r = rng.random(n)
        out = np.empty(n, dtype=object)
        for lo, hi, pool in ((0.0, 0.4, self.kw), (0.4, 0.7, self.idents),
                             (0.7, 0.8, self.camels), (0.8, 0.9, self.nums),
                             (0.9, 1.0, self.kw[:8])):
            sel = (r >= lo) & (r < hi)
            out[sel] = pool[rng.integers(0, len(pool), int(sel.sum()))]
        return out

    def docs(self, n_docs):
        """Contents of `n_docs` documents, 5..~1000 tokens each."""
        rng = self.rng
        lens = 5 + (np.exp(rng.random(n_docs) * 6.4) * 1.6).astype(np.int64)
        toks = self.tokens(int(lens.sum()))
        seps = SEPS[rng.integers(0, len(SEPS), len(toks))]
        joined = (toks + seps).tolist()
        ends = np.cumsum(lens)
        starts = ends - lens
        return ["".join(joined[a:b]) for a, b in zip(starts.tolist(), ends.tolist())], toks, starts, ends


def commit_hex(rng, n):
    return ["".join(f"{x:016x}" for x in row)[:40] for row in rng.integers(0, 2**63, (n, 3))]


def rows(rng, corpus, idx, repos):
    contents, toks, starts, ends = corpus.docs(len(idx))
    return {
        "repo": [f"repo-{r:04d}" for r in rng.integers(0, repos, len(idx)).tolist()],
        "path": [f"src/d{(i // 1000) % 100:02d}/File_{i:08d}.x" for i in idx],
        "commit": commit_hex(rng, len(idx)),
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), len(idx)).tolist()],
        "content": contents,
    }, toks, starts, ends


def write_rows(path, cols):
    pq.write_table(pa.table(cols), path)


class QueryStream:
    """Queries built from real documents, so every shape can match.

    Position i of the stream is first-seen ("cold": its text never
    appeared before, so its term stats are not cached yet) exactly when
    floor((i + 1) * cold_share) > floor(i * cold_share); every other
    position repeats an earlier first-seen query, picked uniformly among
    those repeated fewer than (1 - cold_share) / cold_share times, so each
    query runs once cold and three times warm at 0.25, as graft.Bench runs
    every reference query once untimed and three times timed. The cold
    share is the same in every prefix of the stream, however far a run
    gets. First-seen queries walk TEMPLATES in order. `seen` is shared by
    every stream of a run, so no two streams share a query.
    """

    def __init__(self, rng, toks, starts, ends, paths, seen):
        self.rng = rng
        self.toks = toks
        self.starts = starts
        self.ends = ends
        self.paths = paths
        self.seen = seen

    def _pick(self, ts, pred=lambda t: True):
        cand = [t for t in ts if pred(t)]
        return cand[int(self.rng.integers(0, len(cand)))] if cand else None

    def _make(self, shape, form):
        d = int(self.rng.integers(0, len(self.starts)))
        ts = [t.lower() for t in self.toks[self.starts[d]:self.ends[d]]]
        kw = lambda: self._pick(ts, lambda t: t in KEYWORDS)
        ident = lambda: self._pick(ts, lambda t: t.startswith("ident_"))
        if shape == "phrase":
            if len(ts) < 2:
                return None
            j = int(self.rng.integers(0, len(ts) - 1))
            return f'"{ts[j]} {ts[j + 1]}"'
        if shape == "path":
            return f"path:{self.paths[d].split('/')[-1].split('.')[0].lower()[:-1]}*"
        if shape == "prefix":
            # keep three digits, as refQueries' ident_17* does over
            # Datagen's 5000 names: about 111 expansions either way
            head = "ident_" if form == "ident" else "camelcasename"
            t = self._pick(ts, lambda t: t.startswith(head) and len(t) >= len(head) + 4)
            return t and t[:len(head) + 3] + "*"
        if form == "kw":
            return kw()
        if form == "ident":
            t = ident()
            return t and (t + "~1" if shape == "fuzzy" else t)
        parts = {"kw2": [kw(), kw()], "kw3": [kw(), kw(), kw()], "kw_ident": [kw(), ident()],
                 "kw2_or_ident": [kw(), kw(), ident()], "ident_not_ident": [ident(), ident()]}[form]
        if None in parts or len(set(parts)) < len(parts):
            return None
        if form == "kw2_or_ident":
            return f"({parts[0]} AND {parts[1]}) OR {parts[2]}"
        if form == "ident_not_ident":
            return f"{parts[0]} AND NOT {parts[1]}"
        return f" {'AND' if shape == 'and' else 'OR'} ".join(parts)

    def fresh(self, shape, form):
        for _ in range(1000):
            q = self._make(shape, form)
            if q is not None and q not in self.seen:
                self.seen.add(q)
                return q
        raise RuntimeError(f"could not make a first-seen {shape}/{form} query")

    def stream(self, n, cold_share):
        cap = round((1 - cold_share) / cold_share)
        out, firsts, repeats = [], [], []
        for i in range(n):
            if not out or int((i + 1) * cold_share) > int(i * cold_share):
                shape, form = TEMPLATES[len(firsts) % len(TEMPLATES)]
                firsts.append((shape, self.fresh(shape, form)))
                repeats.append(0)
                out.append((shape, 1, firsts[-1][1]))
            else:
                pool = [j for j, r in enumerate(repeats) if r < cap] or list(range(len(firsts)))
                j = pool[int(self.rng.integers(0, len(pool)))]
                repeats[j] += 1
                out.append((firsts[j][0], 0, firsts[j][1]))
        return out


def write_queries(path, qs):
    with open(path, "w") as f:
        for shape, cold, q in qs:
            f.write(f"{shape}\t{cold}\t{q}\n")


def catalog_documents(rng, n):
    """The driver catalog's `documents` table (doc_id, text, lang, source,
    n_chars) with `n` rows."""
    words = np.array(CATALOG_WORDS, dtype=object)
    lens = rng.integers(10, 100, n)
    toks = words[rng.integers(0, len(words), int(lens.sum()))].tolist()
    ends = np.cumsum(lens).tolist()
    text = [" ".join(toks[e - l:e]) for e, l in zip(ends, lens.tolist())]
    return {
        "doc_id": list(range(n)),
        "text": text,
        "lang": [CATALOG_LANGS[i] for i in rng.integers(0, len(CATALOG_LANGS), n).tolist()],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in text],
    }


def generate(out, seed, w):
    """Write the inputs of workload parameters `w` for `seed` into `out`."""
    os.makedirs(os.path.join(out, "updates"), exist_ok=True)
    os.makedirs(os.path.join(out, "catalog"), exist_ok=True)
    rng = np.random.default_rng(seed)
    corpus = Corpus(rng, w["vocab"])
    seen = set()

    # warm-up queries come from their own documents and share no text with
    # the measured stream
    warm, wt, ws, we = rows(rng, corpus, list(range(10**7, 10**7 + w["warm_docs"])), w["repos"])
    write_rows(os.path.join(out, "warm.parquet"), warm)
    write_queries(os.path.join(out, "warm_queries.tsv"),
                  QueryStream(rng, wt, ws, we, warm["path"], seen).stream(len(TEMPLATES), 1.0))

    n = w["docs"]
    src, toks, starts, ends = rows(rng, corpus, list(range(n)), w["repos"])
    write_rows(os.path.join(out, "source.parquet"), src)
    write_rows(os.path.join(out, "source_sha.parquet"), {
        "repo": src["repo"], "path": src["path"], "commit": src["commit"],
        "sha": [hashlib.sha256(c.encode("utf-8")).hexdigest() for c in src["content"]]})
    write_queries(os.path.join(out, "queries.tsv"),
                  QueryStream(rng, toks, starts, ends, src["path"], seen)
                  .stream(w["queries"], w["cold_share"]))

    # update rounds: each batch re-versions `revise` existing keys (new
    # commit, new content) and adds the rest as new keys; keys are unique
    # within a batch, so every re-version supersedes exactly one live doc
    repos, paths = list(src["repo"]), list(src["path"])
    next_idx = n
    for r in range(w["rounds"]):
        b = w["batch_docs"]
        rev = int(b * w["revise_share"])
        old = rng.choice(len(paths), rev, replace=False).tolist()
        new_idx = list(range(next_idx, next_idx + b - rev))
        next_idx += b - rev
        batch, _, _, _ = rows(rng, corpus, new_idx, w["repos"])
        batch["repo"] = [repos[i] for i in old] + batch["repo"]
        batch["path"] = [paths[i] for i in old] + batch["path"]
        repos += batch["repo"][rev:]
        paths += batch["path"][rev:]
        batch["commit"] = commit_hex(rng, b)
        more, _, _, _ = rows(rng, corpus, list(range(rev)), w["repos"])
        batch["content"] = more["content"] + batch["content"]
        batch["lang"] = more["lang"] + batch["lang"]
        write_rows(os.path.join(out, "updates", f"round_{r:02d}.parquet"), batch)

    write_rows(os.path.join(out, "catalog", "documents.parquet"),
               catalog_documents(rng, w["catalog_docs"]))
