"""Seeded input generator for the repo benchmark.

Every workload's input is a pure function of (workload, seed, size,
GEN_VERSION). Inputs are written with pyarrow (no Spark), outside any timed
region, and cached under `<checkout>/.bench_build/perfbench/inputs/<key>/`;
a `meta.json` written last marks a complete entry. The meta records rows,
bytes, file count, the properties that drive each workload, and the
expected answer the run checks its output against:

  label_job   keep/drop counts + drop-reason histogram from the pure-Python
              oracle (data_quality_check_spark.oracle), an engine written
              independently of the Spark expressions
  curate_web  kept doc ids + a digest of (doc_id, text_deduped, n_tokens,
              shard_id, host) from reference.curate (plain Python)
  dedup_near  kept doc ids from reference.near_dup_keep (plain Python)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

GEN_VERSION = 2

# Sizes are chosen so one warm call takes a few seconds on local[4]: a
# whole run (JVM start, set-up, warm-up, measured calls) takes about a
# minute, most of it JVM start, the cold call and the per-job overhead
# that does not shrink with the input.
SIZES = {
    "label_job": {"turns": 12_000, "files": 32},
    "curate_web": {"docs": 4_000, "files": 8},
    "dedup_near": {"base_docs": 800, "files": 8},
}

# Natural-language word pools: langid confidence and the char-LM perplexity
# depend on the text looking like one of the model languages.
_WORDS = {
    "en": ("the a and of to in is it that for on with as was at by "
           "weather market bread team project schedule library morning "
           "guitar budget train snow coffee children park restaurant city "
           "report museum house coast books evening company profits "
           "grandmother meeting sleep river town scientists rain garden "
           "window travel doctor music summer winter friends kitchen").split(),
    "de": ("der die das und oder zu in ist es mit als war bei ein eine den "
           "wetter heute markt brot mannschaft projekt bibliothek morgen "
           "gitarre zug schnee kaffee kinder garten stadt bericht museum "
           "haus bücher abend firma treffen fluss regen fenster reise").split(),
    "fr": ("le la les un une et ou de en est il elle que pour sur avec dans "
           "temps marché pain équipe projet bibliothèque matin guitare "
           "train neige café enfants parc ville rapport musée maison "
           "livres soir entreprise réunion rivière pluie fenêtre voyage").split(),
    "es": ("el la los las un una y o de en es que para sobre con por del "
           "tiempo mercado pan equipo proyecto biblioteca mañana guitarra "
           "tren nieve café niños parque ciudad informe museo casa libros "
           "noche empresa reunión río lluvia ventana viaje").split(),
}
_LANGS = ("en", "de", "fr", "es")
_LANG_P = (0.55, 0.15, 0.15, 0.15)

_PII1 = " contact me at john.doe@example.com or 555-123-4567"
_PII2 = " my ip is 10.0.0.42 and ssn 123-45-6789 see https://ex.com/a?b=1"
_TOX = " you frakk"
_SOUP = "@@@ ### $$$ %%% ^^^ &&&"
_JUNK_DOCS = (
    "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!! ??? ;;; :::",
    "hi",
    "- a\n- b\n- c\n- d",
)
_BOILERPLATE = ("shared boilerplate block terms and conditions apply to "
                "every page of this site")


FILES_PER_CHUNK = 16   # the CLI's default --files-per-chunk


def cache_root(checkout: str) -> str:
    return os.path.join(checkout, ".bench_build", "perfbench")


def _sentence(rng: np.random.Generator, lang: str, n_words: int) -> str:
    pool = _WORDS[lang]
    return " ".join(pool[i] for i in rng.integers(0, len(pool), n_words))


def _file_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def _write_parts(table, out_dir: str, n_files: int) -> list[int]:
    """Equal slices in file-name order; returns the n_files + 1 row
    boundaries."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    n = table.num_rows
    bounds = [n * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return bounds


# ---------------------------------------------------------------------------
# label_job: transcript turns with a heavy conversation-length tail
# ---------------------------------------------------------------------------

def _turn_rows(seed: int, n_turns: int) -> tuple[list[dict], dict]:
    rng = np.random.default_rng([seed, 1])
    # ~10% of the turns sit in three long conversations (the skew a
    # conversation-keyed shuffle must survive); the rest are short chats
    n_long = n_turns // 10
    long_sizes = [n_long // 3] * 2 + [n_long - 2 * (n_long // 3)]
    convs = list(long_sizes)
    rest = n_turns - n_long
    while rest > 0:
        k = int(min(rest, 2 + rng.geometric(1 / 14)))
        convs.append(k)
        rest -= k
    rows = []
    ts0 = 1_700_000_000
    for ci, size in enumerate(convs):
        conv = f"s{seed}c{ci}"
        lang = _LANGS[rng.choice(4, p=_LANG_P)]
        lens = rng.integers(6, 40, size)
        anomaly = rng.integers(0, 1 << 30, size)
        for t in range(size):
            a = int(anomaly[t])
            role = ("system" if t == 0 else
                    "tool" if t % 7 == 3 else
                    "user" if t % 2 else "assistant")
            text = _sentence(rng, lang, int(lens[t]))
            text += _PII1 if a % 31 == 0 else ""
            text += _PII2 if a % 37 == 0 else ""
            text += _TOX if a % 41 == 0 else ""
            if a % 79 == 0:
                text = _SOUP
            if a % 73 == 0:
                text = "hi"
            if a % 71 == 0:
                text = None
            if a % 53 == 0:
                role = "robot"
            tool = "search" if role == "tool" else None
            if a % 43 == 0:
                tool = "hammer"
            idx = t
            if a % 61 == 0 and t > 0:
                idx = t - 1          # duplicated (conv_id, turn_idx) key
            if a % 89 == 0:
                idx = -1
            ts = None if a % 101 == 0 else ts0 + ci * 10_000 + t
            rows.append({"conv_id": conv, "turn_idx": idx, "role": role,
                         "text": text, "tool": tool, "ts": ts})
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    props = {"conversations": len(convs),
             "long_conversations": 3,
             "long_conversation_share": n_long / n_turns,
             "max_conversation_turns": max(convs)}
    return rows, props


def _gen_label_job(seed: int, size: dict, out: str) -> dict:
    import datetime as dt

    import pyarrow as pa

    from data_quality_check_spark import oracle
    from data_quality_check_spark.config import REASONS

    rows, props = _turn_rows(seed, size["turns"])
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    ts = [None if r["ts"] is None else epoch + dt.timedelta(seconds=r["ts"])
          for r in rows]
    table = pa.table({
        "conv_id": pa.array([r["conv_id"] for r in rows], pa.string()),
        "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
        "role": pa.array([r["role"] for r in rows], pa.string()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "tool": pa.array([r["tool"] for r in rows], pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    bounds = _write_parts(table, os.path.join(out, "input"), size["files"])
    for r, t in zip(rows, ts):
        r["ts"] = t
    # run_job labels each chunk of FILES_PER_CHUNK sorted files on its own
    # (duplicate keys are found within a chunk), and so does the oracle here
    hist = {r: 0 for r in REASONS}
    kept = 0
    for c in range(0, size["files"], FILES_PER_CHUNK):
        chunk = rows[bounds[c]:bounds[min(c + FILES_PER_CHUNK, size["files"])]]
        for lr in oracle.label_turns(chunk):
            kept += lr.keep
            for reason in lr.drop_reasons:
                hist[reason] += 1
    return {"rows": len(rows), "props": props,
            "expected": {"n_turns": len(rows), "n_kept": kept,
                         "n_dropped": len(rows) - kept, "reasons": hist}}


# ---------------------------------------------------------------------------
# curate_web: web documents with injected shared paragraphs
# ---------------------------------------------------------------------------

CURATE_BUDGET = 4096
CURATE_BLOCKED = ("spam.example.net",)


def curate_cap(n_docs: int) -> int:
    return max(1, n_docs // 8)


def _gen_curate_web(seed: int, size: dict, out: str) -> dict:
    import pyarrow as pa

    from . import reference

    rng = np.random.default_rng([seed, 2])
    n = size["docs"]
    # a pool of shared paragraphs, each carried by ~1/13 of the docs at a
    # doc-dependent word offset (span dedup must re-align them)
    paragraphs = [_sentence(rng, "en", 48) for _ in range(24)]
    ids = rng.permutation(np.arange(1, 4 * n, 4))[:n]
    # fixed shares per seed: 4% junk docs, 1/13 carry a shared paragraph
    kind = rng.permutation(np.resize(
        [1] * (n // 13) + [2] * (n // 25) + [0] * n, n))
    docs = []
    shared = 0
    for i in range(n):
        lang = _LANGS[rng.choice(4, p=_LANG_P)]
        if kind[i] == 2:
            text = _JUNK_DOCS[int(rng.integers(0, len(_JUNK_DOCS)))]
        else:
            text = _sentence(rng, lang, int(rng.integers(20, 90)))
            if kind[i] == 1:
                text += " " + paragraphs[int(rng.integers(0, 24))]
                shared += 1
        h = rng.random()
        host = ("hot.example.com" if h < 0.5 else
                "spam.example.net" if h < 0.6 else
                f"site{int(rng.integers(0, 23))}.example.org")
        did = int(ids[i])
        docs.append({"doc_id": did, "text": text, "lang": lang,
                     "url": f"https://{host}/page/{did}"})
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "url": pa.array([d["url"] for d in docs], pa.string()),
    })
    _write_parts(table, os.path.join(out, "input"), size["files"])
    rows = reference.curate(docs, blocked=CURATE_BLOCKED,
                            cap=curate_cap(n), budget=CURATE_BUDGET)
    return {"rows": n,
            "props": {"shared_span_rate": shared / n,
                      "shared_paragraphs": len(paragraphs),
                      "domain_cap": curate_cap(n)},
            "expected": {"kept": len(rows),
                         "digest": reference.curate_digest(rows)}}


# ---------------------------------------------------------------------------
# dedup_near: near-copies of base documents plus a hot boilerplate shingle
# ---------------------------------------------------------------------------

def _gen_dedup_near(seed: int, size: dict, out: str) -> dict:
    import pyarrow as pa

    from . import reference

    rng = np.random.default_rng([seed, 3])
    texts = []
    # 2..6 near-copies per base doc, 4 on average; every seed gets the same
    # number of docs and the same number of boilerplate carriers
    copies = rng.permutation(np.resize(np.arange(2, 7), size["base_docs"]))
    n = int(copies.sum())
    boiler = set(rng.permutation(n)[:n // 5].tolist())
    for k in copies:
        lang = _LANGS[rng.choice(4, p=_LANG_P)]
        base = _sentence(rng, lang, int(rng.integers(30, 70))).split()
        for c in range(k):
            words = list(base)
            # copy 0 is the base; later copies substitute a few words —
            # far copies drift below the Jaccard threshold
            n_sub = 0 if c == 0 else int(rng.integers(1, 3 if c < 3 else 9))
            for p in rng.integers(0, len(words), n_sub):
                words[p] = _WORDS[lang][int(rng.integers(0, 40))]
            text = " ".join(words)
            if len(texts) in boiler:
                text = _BOILERPLATE + " " + text   # hot shingles (df cap)
            texts.append(text)
    ids = rng.permutation(n) * 3 + 7
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    _write_parts(table, os.path.join(out, "input"), size["files"])
    keep = reference.near_dup_keep(list(zip(ids.tolist(), texts)))
    return {"rows": n,
            "props": {"base_docs": size["base_docs"],
                      "mean_near_copies": float(np.mean(copies)),
                      "boilerplate_rate": 0.2},
            "expected": {"kept": len(keep),
                         "kept_ids_md5": reference.ids_md5(keep)}}


_GENERATORS = {"label_job": _gen_label_job, "curate_web": _gen_curate_web,
               "dedup_near": _gen_dedup_near}


def dataset(checkout: str, workload: str, seed: int) -> dict:
    """Cached input for (workload, seed): returns the meta dict, whose
    `input` is the parquet directory the workload reads."""
    size = SIZES[workload]
    tag = hashlib.sha256(json.dumps(
        [workload, seed, size, GEN_VERSION]).encode()).hexdigest()[:12]
    out = os.path.join(cache_root(checkout), "inputs",
                       f"{workload}-s{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    meta = _GENERATORS[workload](seed, size, out)
    inp = os.path.join(out, "input")
    meta.update({"workload": workload, "seed": seed, "size": size,
                 "gen_version": GEN_VERSION, "input": inp,
                 "input_bytes": _file_bytes(inp),
                 "input_files": len(os.listdir(inp))})
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return meta
