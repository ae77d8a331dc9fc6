"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` built from the workload seed and
a parameter dict, writes plain files, and returns the ground truth the
checks compare against. The package under test only ever sees the files.

NDJSON ground truth includes ``projections``: the distinct one-key records
``{"k": v}`` for every top-level (key, value) of every valid line. By the
lattice's key-union rule their fold equals the fold over the valid lines,
at a fraction of the driver-side cost.

Traffic dimensions exposed (values in ``PARAMS`` in ``workloads.py``):

* NDJSON records: record count, top-level key-pool width, nesting depth,
  type-conflict share, drift (the usable key pool grows with record
  order), corrupt-line share.
* Stream backlog: file count, records per file, share of files that drift
  (add a key or demote a struct column to STRING).
* Documents: doc count, words per doc, vocabulary size, near-dup share,
  edit size (word substitutions per planted copy).
"""

from __future__ import annotations

import json
import os
import random

_DUMPS = json.JSONEncoder(separators=(",", ":"), ensure_ascii=False).encode

# Key names include '-' and '.' so identifier sanitization is exercised;
# no two names sanitize onto each other or differ only by case.
_SEPARATORS = ("", "-", ".")


def _key_name(prefix: str, i: int) -> str:
    return f"{prefix}{_SEPARATORS[i % 3]}{i}"


def _scalar(rng: random.Random):
    r = rng.random()
    if r < 0.4:
        return "v" + str(rng.randrange(10_000))
    if r < 0.7:
        return rng.randrange(1_000_000)
    if r < 0.85:
        return round(rng.random() * 1000, 3)
    if r < 0.95:
        return rng.random() < 0.5
    return None


_KINDS = ("scalar", "array", "object", "object_array")


class _Shape:
    """A key's established shape: scalar, array of scalars, object with a
    fixed sub-key set, or array of such objects. ``full`` renders every
    sub-key (so a record built from it establishes the whole shape);
    otherwise sub-keys are sampled."""

    def __init__(self, rng: random.Random, depth: int, sub_pool: int, kind: str | None = None):
        self.kind = "scalar"
        self.children: dict[str, _Shape] = {}
        if depth > 0:
            self.kind = kind or rng.choice(_KINDS)
        if self.kind in ("object", "object_array"):
            width = rng.randint(2, 5)
            for j in rng.sample(range(sub_pool), width):
                self.children[_key_name("s", j)] = _Shape(rng, depth - 1, sub_pool)

    @property
    def nested(self) -> bool:
        return self.kind in ("object", "object_array")

    def value(self, rng: random.Random, full: bool = False):
        if self.kind == "scalar":
            return "v0" if full else _scalar(rng)
        if self.kind == "array":
            return ["v0", 1] if full else [_scalar(rng) for _ in range(rng.randint(0, 3))]
        obj = self._object(rng, full)
        if self.kind == "object":
            return obj
        n = 1 if full else rng.randint(0, 2)
        return [self._object(rng, full) for _ in range(n)]

    def _object(self, rng: random.Random, full: bool):
        out = {}
        for k, child in self.children.items():
            if full or rng.random() < 0.7:
                out[k] = child.value(rng, full)
        return out


def _corrupt(rng: random.Random, good_line: str) -> str:
    """A line the routing predicate rejects and ``json.loads`` rejects:
    a truncated object (never complete before its last byte), a bare
    scalar, or plain text."""
    r = rng.random()
    if r < 0.6:
        return good_line[: rng.randrange(1, len(good_line) - 1)]
    if r < 0.8:
        return str(rng.randrange(1000))
    return "garbage record " + str(rng.randrange(1_000_000))


def _write_lines(path: str, lines) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _fragments(rng: random.Random, shape: _Shape, n: int) -> list[str]:
    """Pre-encoded JSON values for one key; records are assembled from
    these so generation stays cheap next to the work it feeds."""
    return [_DUMPS(shape.value(rng)) for _ in range(n)]


def _record(names, frags) -> str:
    return "{" + ",".join(f'"{k}":{v}' for k, v in zip(names, frags)) + "}"


def ndjson_corpus(rng: random.Random, p: dict, out_dir: str) -> dict:
    """One wide, nested, drifting NDJSON file with planted corrupt lines.

    Record ``r`` draws ``keys_per_record`` keys from the first ``k(r)`` of
    the key pool, where ``k`` grows linearly from ``key_pool // 4`` to
    ``key_pool`` (drift by record order). A ``conflict_share`` of the
    values of nested keys is a scalar (type conflict, demoted to STRING)."""
    n, pool, kpr = p["records"], p["key_pool"], p["keys_per_record"]
    names = [_key_name("k", i) for i in range(pool)]
    # top-level kinds cycle, so every seed has the same mix of nesting
    shapes = [_Shape(rng, p["depth"], p["sub_pool"], _KINDS[i % 4]) for i in range(pool)]
    frags = [_fragments(rng, s, p["variants"]) for s in shapes]
    scalars = _fragments(rng, _Shape(rng, 0, 1), p["variants"])
    start = max(kpr, pool // 4)
    good = bad = 0
    projections: set[str] = set()
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "corpus.ndjson"), "w", encoding="utf-8") as f:
        for r in range(n):
            avail = start + (pool - start) * r // max(1, n - 1)
            ks, vs = [], []
            for i in rng.sample(range(avail), kpr):
                ks.append(names[i])
                if shapes[i].nested and rng.random() < p["conflict_share"]:
                    vs.append(rng.choice(scalars))
                else:
                    vs.append(rng.choice(frags[i]))
            line = _record(ks, vs)
            if rng.random() < p["corrupt_share"]:
                line = _corrupt(rng, line)
                bad += 1
            else:
                good += 1
                projections.update(_record([k], [v]) for k, v in zip(ks, vs))
            f.write(line + "\n")
    return {"good_count": good, "bad_count": bad, "projections": projections}


def stream_backlog(rng: random.Random, p: dict, out_dir: str) -> dict:
    """``files`` small NDJSON files whose modification times follow file
    order (the file source's admission order).

    File 0 starts with one record holding every base key at its full shape,
    so every later base record is a sub-shape of the established schema.
    Each later file drifts with probability ``drift_share``: it either adds
    a never-seen key ``x<i>`` or demotes the struct column ``m<i>``
    (established in file 0) to a scalar. Planted drift events = 1 (the
    creation in batch 0) + drifting files."""
    kpr = p["keys_per_record"]
    names = [_key_name("k", i) for i in range(p["key_pool"])]
    shapes = [_Shape(rng, p["depth"], p["sub_pool"], _KINDS[i % 4]) for i in range(len(names))]
    frags = [_fragments(rng, s, p["variants"]) for s in shapes]
    full = {k: s.value(rng, full=True) for k, s in zip(names, shapes)}
    full.update({f"m{i}": {"a": "v0", "b": 1} for i in range(p["files"])})
    os.makedirs(out_dir, exist_ok=True)
    good, bad, drift_events = 0, [], 1
    projections = {_record([k], [_DUMPS(v)]) for k, v in full.items()}
    mtime0 = 1_600_000_000
    for fi in range(p["files"]):
        lines = [_DUMPS(full)] if fi == 0 else []
        good += len(lines)
        drift = None
        if fi > 0 and rng.random() < p["drift_share"]:
            drift = rng.choice(("add", "demote"))
            drift_events += 1
        for r in range(p["records_per_file"] - len(lines)):
            keys = rng.sample(range(len(names)), kpr)
            ks = [names[i] for i in keys]
            vs = [rng.choice(frags[i]) for i in keys]
            if drift is not None and r % 50 == 0:
                ks.append(f"x{fi}" if drift == "add" else f"m{fi}")
                vs.append('{"n":1,"tag":"t"}' if drift == "add" else '"demoted"')
            line = _record(ks, vs)
            # line 0 always stays good: it carries the file's drift
            if r > 0 and rng.random() < p["corrupt_share"]:
                line = _corrupt(rng, line)
                bad.append(line)
            else:
                good += 1
                projections.update(_record([k], [v]) for k, v in zip(ks, vs))
            lines.append(line)
        path = os.path.join(out_dir, f"part-{fi:05d}.ndjson")
        _write_lines(path, lines)
        os.utime(path, (mtime0 + fi, mtime0 + fi))
    return {"good_count": good, "bad": bad, "drift_events": drift_events,
            "projections": projections}


def documents(rng: random.Random, p: dict, out_dir: str) -> dict:
    """Docs of ``words`` tokens over a Zipf-like vocabulary; a ``dup_share``
    of them are copies of an original with ``edits`` word substitutions.
    Ids are a seeded permutation, so a copy's id may sort before its
    original's. Planted pairs are (min id, max id) of copy and original."""
    vocab = [f"w{i:x}" for i in range(p["vocab"])]
    cum, total = [], 0.0
    for i in range(p["vocab"]):
        total += 1.0 / (i + 1) ** 0.7
        cum.append(total)
    n = p["docs"]
    n_dups = int(n * p["dup_share"])
    originals = []
    for _ in range(n - n_dups):
        originals.append(rng.choices(vocab, cum_weights=cum, k=p["words"]))
    texts = list(originals)
    sources = []
    for _ in range(n_dups):
        src = rng.randrange(len(originals))
        words = list(originals[src])
        for pos in rng.sample(range(len(words)), p["edits"]):
            words[pos] = rng.choice(vocab)
        texts.append(words)
        sources.append(src)
    ids = list(range(n))
    rng.shuffle(ids)
    planted = set()
    for j, src in enumerate(sources):
        a, b = ids[src], ids[len(originals) + j]
        planted.add((min(a, b), max(a, b)))
    os.makedirs(out_dir, exist_ok=True)
    _write_lines(
        os.path.join(out_dir, "docs.ndjson"),
        (_DUMPS({"doc_id": ids[i], "text": " ".join(t)}) for i, t in enumerate(texts)),
    )
    return {"planted_pairs": planted, "docs": n}
