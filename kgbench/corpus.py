"""Deterministic corpus generator for the KG-build benchmark.

The generator owns the ground truth: for every document it knows which
address (if any) it planted and what that address canonicalizes to, so the
benchmark can check the program's edge table without trusting the program.

Inputs are written as parquet with pyarrow before any Spark session starts;
the program only ever reads that parquet.

Document shapes (one per document, chosen by the seeded RNG):

- address doc: filler code text with one planted address, composed from the
  admin-region dictionary (top-level name or alias, optional child region,
  a road token, a building number and sometimes a lot token);
- fragment doc: Hangul text whose only address-like part is a bare region
  fragment (``<top> [<child>]``) that the road-address gate must drop;
- plain doc: ASCII filler only, which the tagger's Hangul prefilter skips.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from extract_address_ner_spark.sources.admin_regions import (
    ADMIN_REGIONS,
    hierarchy_edges,
)

# Code-like filler: ASCII only, never a pure number, so no filler token can
# continue an address span.
FILLER = (
    "def return self value config json user request response import from "
    "class None True False if else for while try except with as yield lambda "
    "print len range list dict str int float open read write path os sys "
    "data result error index key item node edge graph batch query table "
    "spark frame column row schema parquet stream cache merge split join "
    "filter select group order limit count sum max min avg map reduce "
    "x_1 y_2 tmp buf ptr ctx cfg log msg err val obj arr idx cnt num"
).split()

# Korean comment words: Hangul (so the prefilter passes) but neither a start
# token nor a continuation token of the lexicon tagger.
HANGUL_WORDS = (
    "주석 설정 사용자 데이터 변환 함수 결과 오류 확인 저장 요청 응답 "
    "처리함 테스트 배포 로그 목록 파일 값"
).split()

# Syllables for synthetic road names ("<s1><s2>로" / "<s1><s2>길").
ROAD_SYLLABLES = list("가나다라마바사아자차카타파하한강남북중신월봉산성평화문학송백")

LANGS = (("python", "py"), ("javascript", "js"), ("java", "java"),
         ("go", "go"), ("markdown", "md"))

CONF_MENTION = 0.85  # lexicon tagger confidence of every address token
MENTIONS = "mentions_address"
LOCATED_IN = "located_in"


@dataclass(frozen=True)
class Shape:
    """The knobs a workload varies."""

    n_docs: int
    hangul_share: float  # docs containing any Hangul
    addr_share: float  # docs carrying a planted address (subset of Hangul docs)
    mega_share: float  # docs placed in the single mega-repo
    n_repos: int
    vocab_size: int  # distinct planted address surface forms
    words_per_doc: int = 48


# Dictionary aliases the default tagger opens no span at (its lexicon,
# ``oracle.START_REGIONS``, lacks them; the traced run counts them as
# ``tagger.lexicon_misses``). They are the only start names never planted.
# The set is frozen here, so a start name the tagger loses later is still
# planted and fails the edge checks.
LEXICON_GAP = frozenset({
    "대구시", "대전시", "광주시", "울산시", "충북", "충남", "전북", "전남",
    "경북", "경남", "제주도",
})


def _top_regions() -> list[tuple[str, str, list[str]]]:
    """(region_id, canonical name, start names) for each top-level region of
    the dictionary. Start names are the canonical name and the aliases,
    without ``LEXICON_GAP``."""
    out = []
    for rid, name, _lvl, parent, aliases in ADMIN_REGIONS:
        if parent is None:
            out.append((rid, name, [f for f in [name, *aliases]
                                    if f not in LEXICON_GAP]))
    return out


def _children() -> dict[str, list[list[str]]]:
    """top region id -> child-region token paths from the dictionary
    (e.g. kr/gyeonggi -> [["성남시"], ["성남시", "분당구"]])."""
    by_id = {rid: (name, parent) for rid, name, _l, parent, _a in ADMIN_REGIONS}
    out: dict[str, list[list[str]]] = defaultdict(list)
    for rid, (_name, parent) in by_id.items():
        if parent is None:
            continue
        path, cur = [], rid
        while by_id[cur][1] is not None:
            path.append(by_id[cur][0])
            cur = by_id[cur][1]
        out[cur].append(path[::-1])
    return out


@dataclass(frozen=True)
class Address:
    surface: str  # as planted in the text
    canonical_id: str  # what canonicalize_mentions must produce
    region_id: str


def address_vocabulary(size: int, seed: int) -> list[Address]:
    """``size`` distinct planted addresses. Every one starts with a
    top-level name or alias the dictionary resolves."""
    rng = random.Random(f"vocab-{seed}")
    tops = _top_regions()
    kids = _children()
    seen: set[str] = set()
    vocab: list[Address] = []
    while len(vocab) < size:
        rid, canon, forms = tops[rng.randrange(len(tops))]
        start = forms[rng.randrange(len(forms))]
        child = kids.get(rid, [])
        rest = list(child[rng.randrange(len(child))]) if child and rng.random() < 0.7 else []
        rest.append(
            ROAD_SYLLABLES[rng.randrange(len(ROAD_SYLLABLES))]
            + ROAD_SYLLABLES[rng.randrange(len(ROAD_SYLLABLES))]
            + ("로" if rng.random() < 0.7 else "길")
        )
        if rng.random() < 0.3:
            rest.append(f"{rng.randint(1, 99)}번길")
        rest.append(str(rng.randint(1, 999)))
        surface = " ".join([start, *rest])
        if surface in seen:
            continue
        seen.add(surface)
        vocab.append(Address(surface, "kaddr:" + "/".join([canon, *rest]), rid))
    return vocab


def fragments() -> list[str]:
    """Bare region fragments (one or two tokens): the tagger extracts them,
    the road-address gate must drop them."""
    kids = _children()
    out = []
    for rid, _canon, forms in _top_regions():
        for f in forms:
            out.append(f)
            out.extend(f"{f} {path[0]}" for path in kids.get(rid, []))
    return out


@dataclass
class Truth:
    """The edge table a correct build over some generated parts must hold."""

    mention_edges: set[tuple[str, str]] = field(default_factory=set)  # (file, addr)
    addr_region: dict[str, str] = field(default_factory=dict)

    def __or__(self, other: Truth) -> Truth:
        return Truth(self.mention_edges | other.mention_edges,
                     {**self.addr_region, **other.addr_region})

    def edges(self) -> set[tuple[str, str, str, float]]:
        out = {(f, MENTIONS, a, CONF_MENTION) for f, a in self.mention_edges}
        out |= {(a, LOCATED_IN, r, 1.0) for a, r in self.addr_region.items()}
        out |= {(s, p, o, 1.0) for s, p, o in hierarchy_edges()}
        return out

    def fingerprint(self) -> dict[str, int]:
        return edge_fingerprint((s, p, o) for s, p, o, _ in self.edges())


def edge_key(subj: str, pred: str, obj: str) -> bytes:
    return f"{subj}|{pred}|{obj}".encode()


def edge_fingerprint(edges) -> dict[str, int]:
    """Order-independent digest of an edge set: row count, sum of crc32 and
    sum of the first 32 bits of sha256 over ``subj|pred|obj``. The benchmark
    computes the same digest in Spark (``run.SPARK_FINGERPRINT``)."""
    n = crc = sha = 0
    for s, p, o in edges:
        k = edge_key(s, p, o)
        n += 1
        crc += zlib.crc32(k)
        sha += int.from_bytes(hashlib.sha256(k).digest()[:4], "big")
    return {"rows": n, "crc": crc, "sha": sha}


SCHEMA = pa.schema([
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()),
    ("content_sha256", pa.string()), ("doc_id", pa.int64()),
])


def generate(shape: Shape, seed: int, first_doc_id: int, vocab: list[Address],
             out_path: str, part: str, files: int = 1) -> tuple[Truth, dict]:
    """Generate ``shape.n_docs`` documents with ids from ``first_doc_id`` and
    write them to the directory ``out_path`` as ``files`` parquet files.
    Returns what was planted and the measured shape of the input."""
    rng = random.Random(f"{part}-{seed}")
    frags = fragments()
    truth = Truth()
    cols: dict[str, list] = {name: [] for name in SCHEMA.names}
    n_hangul = n_mega = n_addr = n_bytes = 0
    repo_docs: Counter[str] = Counter()
    # exact counts at random positions, so every seed yields the same
    # amount of work: a rank below n_addr plants an address, one below
    # n_hangul a fragment; a second shuffle picks the mega-repo docs
    n_docs = shape.n_docs
    kind = list(range(n_docs))
    rng.shuffle(kind)
    in_mega = list(range(n_docs))
    rng.shuffle(in_mega)
    n_addr_want = round(shape.addr_share * n_docs)
    n_hangul_want = round(shape.hangul_share * n_docs)
    n_mega_want = round(shape.mega_share * n_docs)
    for i in range(n_docs):
        doc_id = first_doc_id + i
        words = rng.choices(FILLER, k=shape.words_per_doc)
        addr = None
        if kind[i] < n_addr_want:
            addr = vocab[rng.randrange(len(vocab))]
            words.insert(rng.randrange(len(words) + 1), addr.surface)
        elif kind[i] < n_hangul_want:
            words.insert(rng.randrange(len(words) + 1),
                         frags[rng.randrange(len(frags))])
        if kind[i] < n_hangul_want:
            n_hangul += 1
            for w in rng.choices(HANGUL_WORDS, k=3):
                words.insert(rng.randrange(len(words) + 1), w)
        if in_mega[i] < n_mega_want:
            repo = "repo_mega"
            n_mega += 1
        else:
            repo = f"repo_{rng.randrange(shape.n_repos):04d}"
        repo_docs[repo] += 1
        lang, ext = LANGS[rng.randrange(len(LANGS))]
        path = f"src/{lang}/m{doc_id:08d}.{ext}"
        content = " ".join(words)
        if addr is not None:
            n_addr += 1
            truth.mention_edges.add((f"{repo}:{path}", addr.canonical_id))
            truth.addr_region[addr.canonical_id] = addr.region_id
        raw = content.encode()
        n_bytes += len(raw)
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(f"{rng.getrandbits(48):012x}")
        cols["lang"].append(lang)
        cols["content"].append(content)
        cols["content_sha256"].append(hashlib.sha256(raw).hexdigest())
        cols["doc_id"].append(doc_id)
    table = pa.Table.from_pydict(cols, schema=SCHEMA)
    os.makedirs(out_path, exist_ok=True)
    step = -(-shape.n_docs // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), f"{out_path}/part-{i}.parquet",
                       row_group_size=max(1, shape.n_docs // 16))
    n = max(1, shape.n_docs)
    return truth, {
        "docs": shape.n_docs,
        "hangul_docs": n_hangul,
        "addr_docs": n_addr,
        "content_bytes": n_bytes,
        "hangul_share": n_hangul / n,
        "addr_share": n_addr / n,
        "mega_share": n_mega / n,
        "top_repo_share": max(repo_docs.values()) / n if repo_docs else 0.0,
    }
