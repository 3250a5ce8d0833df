"""Seeded op lists for the benchmark's workloads.

The data and the set of queries never change with the seed: every run
times the same work. The seed picks the order of the queries in every
pass and the ids each index op touches.
"""

import os
import random

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("registry_floor", "index_rw")

# Timed passes generated per run; the driver stops at the first pass
# boundary after the window closes, long before these run out.
QUERY_PASSES = 200

# index_rw shape. The index starts from the embeddings with
# vec_id < index_base_below; the rest are held out and enter by appends.
INDEX = {
    "index_base_below": 1000,
    "embeddings": 2000,
    "centroids": 4,
    "nprobe": 2,
    "base_files": 4,
    "bloom_fpp": 1e-6,
    "compact_target_bytes": 1 << 20,
    "append_rows": 10,
    "delete_rows": 5,
    "range_width": 40,
}

# One index pass: every op type in a fixed order, so that every pass
# meets the same index states and costs the same (an append leaves small
# files and a DV delete a pending deletion vector, which the compaction
# folds away). The seed picks the ids each op touches. The reads between
# the DV delete and the compaction must subtract a pending deletion
# vector: the range is placed around a deleted id, and one point read
# asks for a deleted id.
INDEX_PASS = (("append",), ("point", "live"), ("dvdelete",), ("range",),
              ("point", "deleted"), ("search",), ("compact",),
              ("point", "absent"), ("latest",))


# The set-up builds the workload's starting state SETUP_REPS times (the
# query workload's check pass, or a fresh index); setup_s is the median.
# The repetitions also warm the JIT: the first runs in a cold JVM.
SETUP_REPS = 4
# Untimed index passes after the set-up: the index builds do not run the
# commit and read paths the timed passes use.
INDEX_WARM_PASSES = 1
INDEX_PASSES = 60   # with the warm-up, 61 appends of 10 rows fit in 1000 held-out ids


def read_pool(name):
    """{stratum: [query, ...]} from pools/<name>.tsv."""
    strata = {}
    with open(os.path.join(HERE, "pools", name + ".tsv")) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            stratum, query = line.split("\t")[:2]
            strata.setdefault(stratum, []).append(query)
    return strata


def draw_queries(strata, rng):
    """One query per stratum, strata in sorted order."""
    return [rng.choice(sorted(strata[s])) for s in sorted(strata)]


def query_plan(workload, seed):
    """(conf, set-up ops, timed ops) of a registry-query workload. The
    queries are drawn once, with a seed of the workload's own, so that
    every run times the same work; the run's seed picks the order of every
    pass. Each of the SETUP_REPS set-ups runs every query once writing its
    result for the oracle check. A set-up op is (rep, kind, args...)."""
    queries = draw_queries(read_pool(workload), random.Random(f"{workload}:pool"))
    rng = random.Random(f"{workload}:{seed}")
    warm = [(rep, "querycheck", q) for rep in range(SETUP_REPS)
            for q in rng.sample(queries, len(queries))]
    timed = [(p, "query", q) for p in range(QUERY_PASSES)
             for q in rng.sample(queries, len(queries))]
    return {"queries": ",".join(queries)}, warm, timed


class IndexModel:
    """The benchmark's own model of the index: which ids are live, which
    were deleted, which are still held out, and the head version."""

    def __init__(self, base_below=INDEX["index_base_below"],
                 total=INDEX["embeddings"]):
        self.live = set(range(base_below))
        self.deleted = set()
        self.held_out = list(range(base_below, total))
        self.version = 1
        self.batches = 0

    def apply(self, op):
        kind = op[0]
        if kind == "append":
            ids = set(parse_ids(op[2]))
            self.live |= ids
            self.held_out = [i for i in self.held_out if i not in ids]
            self.batches += 1
            self.version += 1
        elif kind == "dvdelete":
            ids = set(parse_ids(op[1]))
            self.live -= ids
            self.deleted |= ids
            self.version += 1
        elif kind == "compact":
            self.version += 1


def parse_ids(field):
    return [int(x) for x in field.split(",")] if field else []


def ids_field(ids):
    return ",".join(str(i) for i in ids)


def _index_op(spec, model, rng, total):
    kind = spec[0]
    if kind == "append":
        ids = sorted(rng.sample(model.held_out, INDEX["append_rows"]))
        return ("append", str(model.batches + 1), ids_field(ids))
    if kind == "dvdelete":
        ids = sorted(rng.sample(sorted(model.live), INDEX["delete_rows"]))
        return ("dvdelete", ids_field(ids))
    if kind == "compact":
        return ("compact",)
    if kind == "point":
        if spec[1] == "live":
            return ("point", str(rng.choice(sorted(model.live))))
        if spec[1] == "deleted":
            return ("point", str(rng.choice(sorted(model.deleted))))
        return ("point", str(rng.choice(model.held_out + [total + rng.randrange(1000)])))
    if kind == "range":
        width = INDEX["range_width"]
        hit = rng.choice(sorted(model.deleted))
        lo = min(max(0, hit - rng.randrange(width)), total - width)
        return ("range", str(lo), str(lo + width - 1))
    if kind == "search":
        return ("search", str(rng.randrange(total)))
    if kind == "latest":
        return ("latest",)
    raise ValueError(kind)


def _index_passes(rng, model, passes):
    ops = []
    for p in range(passes):
        for spec in INDEX_PASS:
            op = _index_op(spec, model, rng, INDEX["embeddings"])
            model.apply(op)
            ops.append((p,) + op)
    return ops


def index_plan(seed):
    """(conf, set-up ops, timed ops) of index_rw. Each of the SETUP_REPS
    set-ups builds a fresh index; the last one gets INDEX_WARM_PASSES
    untimed passes (rep -1), and the timed passes go on from there.
    warm_model() replays the set-up for the checks."""
    rng = random.Random(f"index_rw:{seed}")
    model = IndexModel()
    warm = [(rep, "init", f"index{rep}") for rep in range(SETUP_REPS)]
    warm += [(-1,) + op[1:] for op in _index_passes(rng, model, INDEX_WARM_PASSES)]
    timed = _index_passes(rng, model, INDEX_PASSES)
    conf = {k: str(v) for k, v in INDEX.items()}
    return conf, warm, timed


def warm_model(warm):
    """The model of the index as the set-up leaves it."""
    model = IndexModel()
    for op in warm:
        model.apply(op[1:])
    return model


def make_plan(workload, seed):
    if workload == "index_rw":
        return index_plan(seed)
    if workload == "registry_floor":
        return query_plan(workload, seed)
    raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")


def write_plan(path, conf, warm, timed):
    with open(path, "w") as f:
        for k, v in sorted(conf.items()):
            f.write(f"conf\t{k}\t{v}\n")
        for op in warm:
            f.write(f"warm\t{op[0]}\t" + "\t".join(op[1:]) + "\n")
        for op in timed:
            f.write(f"op\t{op[0]}\t" + "\t".join(op[1:]) + "\n")
