"""Plain-Python answers for the curate_web and dedup_near workloads.

Written from the operators' documented semantics, not from their Spark
expressions, so a run that checks its output against these catches a
change that alters results. The label_job answer comes from the
program's own pure-Python oracle (data_quality_check_spark.oracle).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re
from collections import defaultdict

_WS = re.compile("[ \t\n\r]+")
_LETTERS = "A-Za-zÀ-ÖØ-öø-ÿ"
_PIECE = re.compile(f"[{_LETTERS}]+|[0-9]+|[^{_LETTERS}0-9 \t\n\r]")
_LETTER_FIRST = re.compile(f"[{_LETTERS}]")
MIN_SPAN_WORDS = 8
NGRAM_MAX_SHINGLE_DF = 100
JACCARD_THRESHOLD = 0.5


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def ids_md5(ids) -> str:
    return _md5(",".join(str(i) for i in sorted(ids)))


def words(text: str) -> list[str]:
    return [w for w in _WS.split(text) if w]


def bpe_estimate(text: str) -> int:
    """Letter runs cost ceil(len/6), digit runs ceil(len/3), any other
    non-space character 1."""
    n = 0
    for p in _PIECE.findall(text):
        if "0" <= p[0] <= "9":
            n += -(-len(p) // 3)
        elif _LETTER_FIRST.match(p):
            n += -(-len(p) // 6)
        else:
            n += 1
    return n


def span_dedup(docs: list[tuple[int, str]]) -> dict[int, str]:
    """Content-defined ~16-word spans: a word closes its span iff the first
    hex digit of md5(lower(word)) is '0'. An eligible span (>= 8 words)
    survives only at its smallest (doc_id, start position); survivors are
    re-joined with single spaces."""
    brk_cache: dict[str, bool] = {}
    spans = {}
    for did, text in docs:
        ws = words(text)
        cur, start, out = [], 0, []
        for pos, w in enumerate(ws):
            if not cur:
                start = pos
            cur.append(w)
            b = brk_cache.get(w)
            if b is None:
                b = brk_cache[w] = _md5(w.lower())[0] == "0"
            if b:
                out.append((start, cur))
                cur = []
        if cur:
            out.append((start, cur))
        spans[did] = [(s, " ".join(c), len(c)) for s, c in out]
    first: dict[str, tuple[int, int]] = {}
    for did, sp in spans.items():
        for start, text, n in sp:
            if n >= MIN_SPAN_WORDS:
                fp = _md5(text.lower())
                if fp not in first or (did, start) < first[fp]:
                    first[fp] = (did, start)
    result = {}
    for did, sp in spans.items():
        kept = [text for start, text, n in sp
                if n < MIN_SPAN_WORDS or first[_md5(text.lower())]
                == (did, start)]
        result[did] = " ".join(kept)
    return result


def curate(docs: list[dict], *, blocked, cap: int, budget: int) -> list:
    """quality rules -> host blocklist -> per-host cap (smallest ids) ->
    span dedup -> BPE-estimate shard packing in doc_id order. Returns
    sorted (doc_id, text_deduped, n_tokens, shard_id, host) rows."""
    from data_quality_check_spark import oracle

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    labeled = oracle.label_turns(
        [{"conv_id": str(d["doc_id"]), "turn_idx": 0, "role": "user",
          "text": d["text"], "tool": None, "ts": ts} for d in docs],
        with_models=False)
    by_host = defaultdict(list)
    for d, lab in zip(docs, labeled):
        host = d["url"].lower().split("/")[2]
        if lab.keep and host not in blocked:
            by_host[host].append(d)
    kept = []
    for host, ds in by_host.items():
        for d in sorted(ds, key=lambda d: d["doc_id"])[:cap]:
            kept.append((d["doc_id"], d["text"], host))
    kept.sort()
    deduped = span_dedup([(did, text) for did, text, _ in kept])
    rows, acc = [], 0
    for did, _, host in kept:
        td = deduped[did]
        n = bpe_estimate(td)
        rows.append((did, td, n, acc // budget, host))
        acc += n
    return rows


def curate_digest(rows) -> str:
    return _md5("\n".join("\t".join(str(x) for x in r) for r in sorted(rows)))


def near_dup_keep(docs: list[tuple[int, str]]) -> list[int]:
    """Word-trigram Jaccard >= 0.5 over shingle sets with shingles of
    document frequency > 100 removed, connected components, keep each
    component's min id plus every doc in no pair."""
    sets = {}
    for did, text in docs:
        ws = [w for w in _WS.split(text.lower()) if w]
        sh = ({" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
              if len(ws) >= 3 else {" ".join(ws)})
        sets[did] = sh
    post = defaultdict(list)
    for did, sh in sets.items():
        for s in sh:
            post[s].append(did)
    hot = {s for s, ds in post.items() if len(ds) > NGRAM_MAX_SHINGLE_DF}
    size = {did: len(sh - hot) for did, sh in sets.items()}
    shared = defaultdict(int)
    for s, ds in post.items():
        if s in hot:
            continue
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                shared[(a, b)] += 1
    parent = {did: did for did, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), n in shared.items():
        if n / (size[a] + size[b] - n) >= JACCARD_THRESHOLD:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return sorted(did for did, _ in docs if find(did) == did)
