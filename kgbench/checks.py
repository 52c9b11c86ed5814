"""Output checks that rest on the generator's ground truth, not on the
program agreeing with itself."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus import CONF_MENTION, LOCATED_IN, MENTIONS, Truth


def spark_fingerprint(edges: DataFrame) -> dict[str, int]:
    """The Spark twin of ``corpus.edge_fingerprint``, plus ``bad_conf``: the
    number of edges whose confidence is not the one the lexicon tagger and
    the linker assign (0.85 for mentions, 1.0 for located_in)."""
    key = F.concat_ws("|", "subj", "pred", "obj")
    want = F.when(F.col("pred") == MENTIONS, F.lit(CONF_MENTION)).otherwise(1.0)
    row = edges.select(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.crc32(key.cast("binary"))).alias("crc"),
        F.sum(F.conv(F.substring(F.sha2(key, 256), 1, 8), 16, 10)
              .cast("long")).alias("sha"),
        F.sum(F.when(F.abs(F.col("confidence") - want) > 1e-9, 1)
              .otherwise(0)).alias("bad_conf"),
    ).first()
    return {k: int(row[k] or 0) for k in ("rows", "crc", "sha", "bad_conf")}


def edges_match(edges: DataFrame, truth: Truth) -> bool:
    got = spark_fingerprint(edges)
    return got.pop("bad_conf") == 0 and got == truth.fingerprint()


def read_set_truth(truth: Truth) -> dict[str, list[tuple]]:
    """Expected rows of the graph_query read set over ``truth``'s edges."""
    edges = truth.edges()
    deg: list[tuple] = []
    for pred in sorted({p for _s, p, _o, _c in edges}):
        for direction, pos in (("out", 0), ("in", 2)):
            per_node = Counter(e[pos] for e in edges if e[1] == pred)
            hist = Counter(per_node.values())
            deg += [(pred, direction, d, n) for d, n in hist.items()]

    per_repo: dict[str, Counter[str]] = defaultdict(Counter)
    for f, a in truth.mention_edges:
        per_repo[f.split(":", 1)[0]][a] += 1
    top = []
    for repo, counts in per_repo.items():
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        top += [(repo, a, n, r + 1) for r, (a, n) in enumerate(ranked)]

    parent = {s: o for s, p, o, _c in edges
              if p == LOCATED_IN and not s.startswith("kaddr:")}
    files: dict[str, set[str]] = defaultdict(set)
    addrs: dict[str, set[str]] = defaultdict(set)
    for f, a in truth.mention_edges:
        region = truth.addr_region[a]
        files[region].add(f)
        addrs[region].add(a)
    rollup = [(r, parent.get(r), len(files[r]), len(addrs[r])) for r in files]
    return {"degree": sorted(deg), "top": sorted(top), "rollup": sorted(rollup)}
