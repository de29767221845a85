"""Seeded benchmark inputs, cached on disk by (workload, seed, size).

Every input is a pure function of its seed: the same seed writes the same
rows, and ``digest`` (sha256 over the rows in generation order) is part of
every result so two runs can be shown to have measured the same data.
Files are written with pyarrow, not Spark, so input generation never
counts towards set-up or job time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string()),
])

# extract corpus mix: fraction of pages served as PDF responses (half of them
# Flate-compressed) and fraction padded with script/style/nav boilerplate
PDF_FRAC = 0.05
PADDED_FRAC = 0.10


def _mix(seed: int, n: int, fracs: dict[str, float]) -> list[str]:
    """Exactly round(frac * n) documents of each kind, at seeded positions:
    every seed gets the same mix, so only which documents differ."""
    kinds = []
    for kind, frac in fracs.items():
        kinds += [kind] * round(frac * n)
    kinds += ["plain"] * (n - len(kinds))
    random.Random(f"mix:{seed}").shuffle(kinds)
    return kinds


def _padding(n: int) -> tuple[str, str]:
    """Head and body boilerplate of ~70 bytes per unit of ``n``: script and
    style text the scanner drops, and a link-only nav the boilerplate rule
    strips."""
    head = (
        "<script>" + "".join(f"var t{j}=fetch('/px?{j}');" for j in range(n))
        + "</script><style>"
        + "".join(f".m{j}{{margin:{j % 9}px}}" for j in range(n)) + "</style>"
    )
    nav = "<nav>" + " ".join(
        f'<a href="/c/{j}">Category {j}</a>' for j in range(n // 2)
    ) + "</nav>"
    return head, nav


def extract_pages(seed: int, n_docs: int):
    """(rows, kinds): receipt pages from ``sources.synthetic.generate_doc``
    (20% of urls on one heavy domain), 5% re-served as PDF bytes from
    ``sources.pdf.write_pdf`` (half of them Flate-compressed) and 10% padded
    with 14-56 KB of boilerplate. The golden text of every page is
    generate_doc's ``text``: the PDF writer round-trips it and the padding
    is content the extractor's rules remove."""
    from documentprocessor_spark.sources.pdf import write_pdf
    from documentprocessor_spark.sources.synthetic import generate_doc

    kinds = _mix(seed, n_docs, {"pdf": PDF_FRAC, "padded": PADDED_FRAC})
    n_padded = kinds.count("padded")
    rows, n_pdf, k_padded = [], 0, 0
    for i, kind in enumerate(kinds):
        url, ts, html, text, lang = generate_doc(i, seed)[:5]
        if kind == "pdf":
            html = write_pdf(text, compress=n_pdf % 2 == 1)
            n_pdf += 1
        elif kind == "padded":
            # sizes spread evenly over the padded pages
            head, nav = _padding(200 + 600 * k_padded // max(1, n_padded))
            k_padded += 1
            page = html.decode("utf-8")
            page = page.replace("</head>", head + "</head>", 1)
            page = page.replace("<main>", nav + "<main>", 1)
            html = page.encode("utf-8")
        rows.append((url, ts.replace(tzinfo=timezone.utc), html, text, lang))
    return rows, kinds


# --------------------------------------------------------------- curation

_WORDS = (
    "data model river market garden signal paper window engine harbor "
    "season story table winter letter forest number system process light "
    "station theory method record voice street mountain project village "
    "energy pattern measure school report history council network ocean "
    "surface teacher animal bridge culture weather machine language field"
).split()
_STOP = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
         "that", "by", "as", "at")
_GERMAN = ("der die das und von zu im ist mit auf fur eine haus stadt "
           "wasser zeit jahr").split()
BOILERPLATE = [
    "Accept all cookies to continue browsing this site",
    "Subscribe to our newsletter for weekly updates",
    "Copyright the example media group all rights reserved",
    "Share this article on social media",
    "Sign in to leave a comment on this story",
    "Related stories you may have missed this week",
    "Advertisement continue reading below",
    "Click here to read the full terms of service",
]


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(
        rng.choice(_STOP) if rng.random() < 0.35 else rng.choice(_WORDS)
        for _ in range(n)
    )


def _document(rng: random.Random) -> str:
    lines = [_sentence(rng, 8 + rng.randrange(12))
             for _ in range(4 + rng.randrange(7))]
    for _ in range(rng.randrange(3)):
        lines.insert(rng.randrange(len(lines) + 1), rng.choice(BOILERPLATE))
    return "\n".join(lines)


def _near_copy(rng: random.Random, text: str) -> str:
    """A few single-token substitutions inside a copy of ``text``."""
    lines = [line.split(" ") for line in text.split("\n")]
    for _ in range(2 + rng.randrange(2)):
        line = lines[rng.randrange(len(lines))]
        line[rng.randrange(len(line))] = rng.choice(_WORDS) + "x"
    return "\n".join(" ".join(line) for line in lines)


def curate_docs(seed: int, n_docs: int):
    """(rows, planted): an English documents table with planted exact
    duplicates (5%), near-duplicates (10%), boilerplate lines from a small
    pool, German documents (3%), and NULL or empty texts (0.5% each).
    ``planted`` maps each duplicate id to its original's id."""
    rng = random.Random(f"curate:{seed}")
    kinds = _mix(seed, n_docs, {"exact": 0.05, "near": 0.10, "null": 0.005,
                                "empty": 0.005, "german": 0.03})
    texts: list[str | None] = []
    exact: dict[int, int] = {}
    near: dict[int, int] = {}
    for i, kind in enumerate(kinds):
        originals = [j for j in range(max(0, i - 50), i)
                     if kinds[j] == "plain"]
        if kind in ("exact", "near") and not originals:
            kind = "plain"
        if kind == "exact":
            j = rng.choice(originals)
            texts.append(texts[j])
            exact[i] = j
        elif kind == "near":
            j = rng.choice(originals)
            texts.append(_near_copy(rng, texts[j]))
            near[i] = j
        elif kind == "null":
            texts.append(None)
        elif kind == "empty":
            texts.append("")
        elif kind == "german":
            texts.append("\n".join(
                " ".join(rng.choice(_GERMAN) for _ in range(10))
                for _ in range(4)))
        else:
            texts.append(_document(rng))
    rows = list(enumerate(texts))
    return rows, {"exact": exact, "near": near}


# ------------------------------------------------------------------ cache

def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        for v in row:
            h.update(repr(v).encode("utf-8") if not isinstance(v, bytes) else v)
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def _write_files(rows, schema, path: str, n_files: int) -> None:
    os.makedirs(path)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                     schema=schema)
    per = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def prepare(cache_root: str, workload: str, seed: int, size: int,
            n_files: int) -> dict:
    """Generate (or reuse) the input of one workload; returns its metadata:
    paths, digest, byte size and the workload's planted ground truth."""
    key = f"{workload}-s{seed}-n{size}-f{n_files}"
    root = os.path.join(cache_root, key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = {"workload": workload, "seed": seed, "size": size}
    if workload.startswith("extract"):
        rows, kinds = extract_pages(seed, size)
        _write_files(rows, PAGES_SCHEMA, os.path.join(tmp, "input"), n_files)
        golden = [(r[0], r[3]) for r in rows]
        _write_files(golden, pa.schema([("url", pa.string()),
                                        ("text", pa.string())]),
                     os.path.join(tmp, "golden"), 1)
        meta["kinds"] = {k: kinds.count(k) for k in sorted(set(kinds))}
    else:
        rows, planted = curate_docs(seed, size)
        _write_files(rows, DOCS_SCHEMA, os.path.join(tmp, "input"), n_files)
        meta["planted"] = {k: {str(a): b for a, b in v.items()}
                           for k, v in planted.items()}
    meta["digest"] = _digest(rows)
    meta["input_bytes"] = _dir_bytes(os.path.join(tmp, "input"))
    meta["input"] = os.path.join(root, "input")
    meta["golden"] = os.path.join(root, "golden")
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, root)
    return meta
