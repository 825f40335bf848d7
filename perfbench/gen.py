"""Seeded inputs for the benchmark workloads.

The program only ever sees the parquet files written here.  Every row is a
pure function of (seed, index), so the same seed gives byte-identical
inputs in any checkout; files are cached under ``cache_dir`` keyed by
(workload, seed, size) and are written outside any timed region.

* Crawl pages come from :func:`ocr_spark.pagegen.page_for`.  ``pagegen``
  has no seed argument (its hash seed is the constant ``SEED = 42``), so a
  benchmark seed selects a disjoint doc-id range instead: seed ``s`` starts
  at doc id ``s * SEED_STRIDE``.  Seed 0 is therefore exactly the page set
  the pinned 20k-page digest was taken on.
* Admission rows (html-less, latin-1 with a meta charset, oversize) use a
  separate doc-id range so they never collide with the page mix.
* The prose corpus plants every curation drop reason at a known share and
  records each document's expected verdict, so a run can be checked row by
  row.
"""

from __future__ import annotations

import json
import os
import random
from bisect import bisect_right
from itertools import accumulate

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import pagegen
from ocr_spark.job import MAX_HTML_BYTES

SEED_STRIDE = 10 ** 8
ADMISSION_BASE = 9 * 10 ** 11     # doc ids of admission rows

# ocr_spark.schema.PAGES_SCHEMA as Arrow (html is null on html-less rows)
_PAGES_ARROW = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


def _write(rows: list[dict], path: str, schema: pa.Schema | None = None) -> None:
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp,
                   compression="zstd")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# crawl pages
# ---------------------------------------------------------------------------

def mixed_pages(seed: int, first: int, count: int) -> list[dict]:
    """``count`` pagegen pages starting at index ``first`` of seed ``seed``."""
    base = seed * SEED_STRIDE + first
    return [pagegen.page_for(base + i) for i in range(count)]


def admission_pages(seed: int, first: int, html_less: int, latin1: int
                    ) -> list[dict]:
    """Rows that exercise admission and decoding rather than the page mix:
    ``html_less`` rows with only a ``text`` column, ``latin1`` pages
    re-encoded as ISO-8859-1 behind a ``<meta charset>``, and one page
    over the 5 MB cap, which the job must quarantine.  Doc ids mirror the
    page indices ``first ..`` of the slice they ride along with."""
    base = ADMISSION_BASE + seed * SEED_STRIDE + first
    rows = []
    for i in range(html_less):
        row = pagegen.page_for(base + i)
        row["html"] = None
        rows.append(row)
    for i in range(html_less, html_less + latin1):
        row = pagegen.page_for(base + i)
        html = row["html"].decode("utf-8").replace(
            "<head>", '<head><meta charset="iso-8859-1">', 1)
        row["html"] = html.encode("latin-1")
        rows.append(row)
    big = pagegen.page_for(base + html_less + latin1)
    pad = MAX_HTML_BYTES + 1 - len(big["html"])
    big["html"] = big["html"].replace(
        b"</body>", b"<!--" + b"x" * pad + b"--></body>", 1)
    rows.append(big)
    return rows


def is_admission(row: dict) -> bool:
    return int(row["url"].rsplit("/", 1)[1]) >= ADMISSION_BASE


def is_oversize(row: dict) -> bool:
    return row["html"] is not None and len(row["html"]) > MAX_HTML_BYTES


def incremental_slices(cache_dir: str, seed: int, base: int, rounds: int,
                       slices: int, pages: int, html_less: int, latin1: int
                       ) -> list[dict]:
    """Per round, ``slices`` parquet files; file ``i > 0`` holds slice ``i``
    plus all of slice ``i - 1`` again (the re-crawl overlap).  Rounds use
    disjoint pages, so a page is extracted once per process; ``base`` is
    the first page index, so callers can keep several sets disjoint.

    Returns one dict per round: ``paths`` (slice files in order) and
    ``rows`` (the unique rows of the round, for the output checks).
    """
    key = (f"incremental-s{seed}-b{base}-r{rounds}x{slices}x{pages}"
           f"-a{html_less}.{latin1}")
    root = os.path.join(cache_dir, key)
    out = []
    for r in range(rounds):
        uniq, paths, prev = [], [], []
        for i in range(slices):
            sl = r * slices + i
            first = base + sl * pages
            cur = (mixed_pages(seed, first, pages)
                   + admission_pages(seed, first, html_less, latin1))
            path = os.path.join(root, f"round{r:02d}", f"slice{i:02d}.parquet")
            if not os.path.exists(path):
                os.makedirs(os.path.dirname(path), exist_ok=True)
                _write(cur + prev, path, _PAGES_ARROW)
            paths.append(path)
            uniq.extend(cur)
            prev = cur
        out.append({"paths": paths, "rows": uniq})
    return out


def digest_pages(cache_dir: str, count: int) -> str:
    """Seed-0 page set of ``count`` pages (the pinned-digest input)."""
    path = os.path.join(cache_dir, f"digest-s0-{count}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        _write(mixed_pages(0, 0, count), path, _PAGES_ARROW)
    return path


# ---------------------------------------------------------------------------
# prose corpus with planted curation verdicts
# ---------------------------------------------------------------------------

# gate markers the generated words must never collide with: the language-id
# marker words and the stopword list of ocr_spark.operators.textstats
_RESERVED = {"der", "und", "die", "nicht", "das", "le", "les", "des", "une",
             "est", "el", "los", "que", "una", "del", "the", "and", "of",
             "is", "that", "a", "an", "or", "to", "in", "for", "la", "las",
             "de", "y", "en", "un", "es", "ein"}
_EN_GLUE = ("the", "and", "of", "is", "that", "to", "in", "for", "a")
_SYLL = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]

# planted share of each drop reason (the remainder is clean prose)
PLANTED = {"exact_duplicate": 0.06, "near_duplicate": 0.06,
           "lang_filtered": 0.05, "low_quality": 0.05, "repetitive": 0.04,
           "contaminated": 0.03}
PII_SHARE = 0.05
N_HOSTS = 500
HOST_ZIPF_S = 0.9
EVAL_DOCS = 8


def _vocab(n: int = 6000) -> list[str]:
    rnd = random.Random(20260816)
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rnd.choice(_SYLL) for _ in range(rnd.randint(2, 4)))
        if w not in _RESERVED:
            words.add(w)
    return sorted(words)


def _prose(rnd: random.Random, vocab: list[str], n_tokens: int,
           glue: bool = True) -> str:
    """Random prose: ``n_tokens`` tokens in lines of ~12, a quarter of them
    English function words (so language id says ``en``) unless ``glue`` is
    off (no marker word at all, so language id says ``und``)."""
    toks = [rnd.choice(_EN_GLUE) if glue and rnd.random() < 0.25
            else rnd.choice(vocab) for _ in range(n_tokens)]
    return "\n".join(" ".join(toks[i:i + 12]) for i in range(0, n_tokens, 12))


def _zipf_host(rnd: random.Random, cdf: list[float]) -> int:
    return bisect_right(cdf, rnd.random() * cdf[-1])


def prose_corpus(cache_dir: str, seed: int, docs: int, tokens: int,
                 max_per_host: int) -> dict:
    """Corpus + eval set + per-document expected verdicts.

    Returns ``{"input", "bench", "expected"}``: the two parquet paths and a
    path to a JSON list with the expected ``drop_reason`` (or ``null``) of
    every doc id, where ``max_per_host`` is the cap the job will be run
    with.  The first tenth of the ids is clean prose, so every planted
    copy has a clean, lower-id original.
    """
    key = f"curate-s{seed}-{docs}x{tokens}-cap{max_per_host}"
    root = os.path.join(cache_dir, key)
    paths = {"input": os.path.join(root, "docs.parquet"),
             "bench": os.path.join(root, "eval.parquet"),
             "expected": os.path.join(root, "expected.json")}
    if os.path.exists(paths["expected"]):
        return paths
    os.makedirs(root, exist_ok=True)
    rnd = random.Random(f"prose-{seed}-{docs}")
    vocab = _vocab()
    cdf = list(accumulate(1.0 / (r + 1) ** HOST_ZIPF_S for r in range(N_HOSTS)))

    evals = [_prose(rnd, vocab, 60) for _ in range(EVAL_DOCS)]
    head = max(docs // 10, 1)
    kinds = [k for k, share in PLANTED.items()
             for _ in range(round(share * docs))]
    kinds += ["clean"] * (docs - head - len(kinds))
    rnd.shuffle(kinds)
    kinds = ["clean"] * head + kinds

    rows, reasons, clean_ids = [], [], []
    for doc_id, kind in enumerate(kinds):
        text = None
        if kind == "clean":
            text = _prose(rnd, vocab, tokens)
            if rnd.random() < PII_SHARE:
                text += (f"\ncontact {rnd.choice(vocab)}@mail.example or "
                         f"+34 6{rnd.randrange(10 ** 8):08d}")
            clean_ids.append(doc_id)
        elif kind == "exact_duplicate":
            # same fingerprint: case and whitespace differ only
            orig = rows[rnd.choice(clean_ids)]["text"]
            text = orig.upper().replace("\n", "  \n ")
        elif kind == "near_duplicate":
            toks = rows[rnd.choice(clean_ids)]["text"].split(" ")
            mid = len(toks) // 2
            toks[mid] = next(w for w in iter(lambda: rnd.choice(vocab), None)
                             if w != toks[mid])
            text = " ".join(toks)
        elif kind == "lang_filtered":
            text = _prose(rnd, vocab, tokens, glue=False)
        elif kind == "low_quality":
            text = (" ".join(str(rnd.randrange(10 ** 6)) for _ in range(40))
                    if doc_id % 2 else rnd.choice(vocab))
        elif kind == "repetitive":
            phrase = " ".join(rnd.choice(vocab) for _ in range(3))
            text = "\n".join(f"{phrase} the {phrase}" for _ in range(tokens // 7))
        elif kind == "contaminated":
            ev = evals[rnd.randrange(EVAL_DOCS)].split()
            text = (_prose(rnd, vocab, tokens // 2) + "\n"
                    + " ".join(ev[10:30]) + "\n"
                    + _prose(rnd, vocab, tokens // 2))
        host = _zipf_host(rnd, cdf)
        rows.append({"doc_id": doc_id, "text": text,
                     "url": f"https://host-{host}.example/p/{doc_id}"})
        reasons.append(None if kind == "clean" else kind)

    # the per-host cap ranks the survivors of every earlier gate by id
    per_host: dict[str, int] = {}
    for doc_id in clean_ids:
        host = rows[doc_id]["url"].split("/")[2]
        per_host[host] = per_host.get(host, 0) + 1
        if per_host[host] > max_per_host:
            reasons[doc_id] = "host_capped"

    _write(rows, paths["input"])
    _write([{"doc_id": 10 ** 9 + i, "text": t} for i, t in enumerate(evals)],
           paths["bench"])
    with open(paths["expected"] + ".tmp", "w") as fh:
        json.dump(reasons, fh)
    os.replace(paths["expected"] + ".tmp", paths["expected"])
    return paths

