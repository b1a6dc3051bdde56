"""Seeded, cached page corpora for the benchmark workloads.

The generator is self-contained on purpose: the vocabularies, the toxic
lexicon and the entity surface forms are fixed here, so a change to the
program (its synthetic-data module included) never changes the inputs
the benchmark measures it on. The mix of page kinds follows the stock
synthetic crawl.

A corpus is a directory of parquet files in the pipeline's input shape
(url, warc_ts, html, text, lang), one row group per file. It is written
once per (layout, seed) under the benchmark's work directory and
re-used on later runs. Its measured properties sit beside it in
``props.json``; they are measured with the program's own kernels on the
text the pipeline sees, so each workload's reason for existing can be
checked against the corpus instead of assumed.
"""

from __future__ import annotations

import html as _html
import json
import os
import pathlib
import random
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

GENERATOR_VERSION = 4
REPO = pathlib.Path(__file__).resolve().parent.parent

VOCAB: dict[str, list[str]] = {
    "en": (
        "the and of to in is was for with that from this have are not but "
        "they his her you all can had there one what were when out many time "
        "people water long little work world over such make even most after "
        "house old great small found between never under last thought"
    ).split(),
    "fr": (
        "le la les et de un une est dans pour avec que ne pas du au des il "
        "elle nous vous sont mais plus tout comme bien sans deux fait peut "
        "temps monde jour homme femme chose vie eau terre grand petit "
        "toujours jamais entre depuis pendant quelque chaque"
    ).split(),
    "es": (
        "el los las y en que es por con para una del se no lo como más pero "
        "sus le ya o este sí porque esta entre cuando muy sin sobre también "
        "me hasta hay donde quien desde todo nos durante todos uno les "
        "contra otros ese eso ante ellos"
    ).split(),
    "de": (
        "der die das und ist nicht mit von zu ein eine für auf dem sich des "
        "auch an werden aus er hat dass sie nach wird bei einer um am sind "
        "noch wie einem über einen so zum war haben nur oder aber vor zur "
        "bis mehr durch man sein wurde"
    ).split(),
    "zh": (
        "的 一 是 不 了 人 我 在 有 他 这 中 大 来 上 国 个 到 说 们 为 子 和 "
        "你 地 出 道 也 时 年 得 就 那 要 下 以 生 会 自 着 去 之 过 家 学 对"
    ).split(),
}
LANGS = sorted(VOCAB)
LANG_WEIGHTS = [0.15, 0.40, 0.15, 0.15, 0.15]  # de en es fr zh

TOXIC_TERMS = (
    "blortug snekvarn drazzle fumpterous gribblenox vexmorden quazzpit "
    "smurdlap cronkforth plimbuzzle trogwaddle snibfrock mulchgrim "
    "zarfnickle gorpusflam dredgesnout wamblefitz pextrovane crudmonger "
    "flibbertigob"
).split()

ENTITY_FORMS = [
    "acme", "acme corp", "acme corporation", "zorblax",
    "zorblax industries", "quintessa", "quintessa holdings", "météo plus",
    "nordwind ag", "kappa systems", "kappa sys", "orbital dynamics",
    "phoenix group", "lyra", "lyra labs", "vantage", "advantage partners",
    "helios energy", "tidewater shipping", "kestrel avionics", "kestrel",
    "obsidian software",
]

# page kinds -> weight, as in the stock synthetic crawl: ~a quarter
# structural rejects. "prose" is the kept majority; every other kind
# plants one structural violation (gibberish plants high perplexity).
KINDS: dict[str, float] = {
    "short": 0.04, "long": 0.01, "symbol": 0.04, "bullet": 0.04,
    "gibberish": 0.05, "lorem": 0.03, "brace": 0.02, "dup_lines": 0.04,
    "no_punct": 0.03, "prose": 0.70,
}
PII_FRAC = 0.08
TOXIC_FRAC = 0.06
ENTITY_FRAC = 0.12
N_HOSTS = 50


def _sentence(rng: random.Random, lang: str, n: int) -> str:
    words = [rng.choice(VOCAB[lang]) for _ in range(n)]
    if lang != "zh":
        words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _prose(rng: random.Random, lang: str, n_words: int) -> list[str]:
    paras: list[str] = []
    made = 0
    while made < n_words:
        sents = []
        for _ in range(rng.randint(2, 4)):
            k = rng.randint(8, 15)
            sents.append(_sentence(rng, lang, k))
            made += k
        paras.append(" ".join(sents))
    return paras


def _inject(rng: random.Random, paras: list[str], token: str) -> None:
    i = rng.randrange(len(paras))
    words = paras[i].split(" ")
    words.insert(rng.randrange(len(words) + 1), token)
    paras[i] = " ".join(words)


def _pii(rng: random.Random) -> str:
    k = rng.randrange(4)
    if k == 0:
        return f"{rng.choice(VOCAB['en'])}{rng.randrange(10, 99)}@example.com"
    if k == 1:
        return f"{rng.randrange(200, 999)}-{rng.randrange(200, 999)}-{rng.randrange(1000, 9999)}"
    if k == 2:
        return ".".join(str(rng.randrange(1, 250)) for _ in range(4))
    return f"{rng.randrange(100, 899)}-{rng.randrange(10, 99)}-{rng.randrange(1000, 9999)}"


def _paragraphs(rng: random.Random, kind: str, lang: str) -> list[str]:
    if kind == "short":
        return _prose(rng, lang, rng.randint(5, 20))
    if kind == "long":
        return _prose(rng, lang, rng.randint(10500, 11500))
    if kind == "symbol":
        paras = _prose(rng, lang, rng.randint(80, 300))
        for _ in range(rng.randint(20, 40)):
            _inject(rng, paras, rng.choice(["#", "...", "###"]))
        return paras
    if kind == "bullet":
        return ["- " + _sentence(rng, lang, rng.randint(3, 8))
                for _ in range(rng.randint(20, 40))]
    if kind == "gibberish":
        cons = "bcdfghjklmnpqrstvwxz"
        words = [
            rng.choice(["the", "and", "is", "of"]) if i % 9 == 4
            else "".join(rng.choice(cons) for _ in range(rng.randint(4, 9)))
            for i in range(rng.randint(80, 250))
        ]
        return [" ".join(words[j:j + 12]) + "." for j in range(0, len(words), 12)]
    if kind == "lorem":
        paras = _prose(rng, lang, rng.randint(80, 300))
        _inject(rng, paras, "lorem ipsum dolor sit amet")
        return paras
    if kind == "brace":
        paras = _prose(rng, lang, rng.randint(80, 300))
        _inject(rng, paras, "{unrendered_template}")
        return paras
    if kind == "dup_lines":
        line = _sentence(rng, lang, rng.randint(6, 10))
        return _prose(rng, lang, rng.randint(60, 150)) + [line] * rng.randint(8, 15)
    if kind == "no_punct":
        return [" ".join(rng.choice(VOCAB[lang]) for _ in range(rng.randint(8, 14)))
                for _ in range(rng.randint(8, 16))]
    return _prose(rng, lang, rng.randint(80, 600))


def _exact(rng: random.Random, n: int, weights: dict) -> list:
    """``n`` labels in the given proportions (largest remainder), shuffled:
    every file of every seed carries the same mix, so seeds vary the
    words but not the amount of work."""
    counts = {k: int(n * w) for k, w in weights.items()}
    by_remainder = sorted(weights, key=lambda k: counts[k] - n * weights[k])
    for k in by_remainder[: n - sum(counts.values())]:
        counts[k] += 1
    labels = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(labels)
    return labels


def _flags(rng: random.Random, n: int, frac: float) -> list[bool]:
    return _exact(rng, n, {True: frac, False: 1.0 - frac})


def make_pages(n: int, seed: int, first_id: int = 0) -> dict[str, list]:
    """``n`` pages; urls are unique within a seed."""
    rng = random.Random(f"{seed}:{first_id}")
    kinds = _exact(rng, n, KINDS)
    langs = _exact(rng, n, dict(zip(LANGS, LANG_WEIGHTS)))
    pii, toxic, entity = (_flags(rng, n, f) for f in (PII_FRAC, TOXIC_FRAC, ENTITY_FRAC))
    host_w = [1.0 / (i + 1) ** 1.1 for i in range(N_HOSTS)]
    base_ts = datetime(2024, 3, 1)
    cols: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for k, i in enumerate(range(first_id, first_id + n)):
        lang = langs[k]
        paras = _paragraphs(rng, kinds[k], lang)
        if pii[k]:
            for _ in range(rng.randint(1, 3)):
                _inject(rng, paras, _pii(rng))
        if toxic[k]:
            for _ in range(rng.choice([1, 1, 2, 3, 4, 5])):
                _inject(rng, paras, rng.choice(TOXIC_TERMS))
        if entity[k]:
            for _ in range(rng.randint(1, 4)):
                form = rng.choice(ENTITY_FORMS)
                _inject(rng, paras, form.title() if rng.random() < 0.3 else form)
        host = rng.choices(range(N_HOSTS), weights=host_w)[0]
        title = f"page {i}"
        body = "".join(
            f"<p>{_html.escape(p)}</p>"
            + ("<!-- layout marker -->" if rng.random() < 0.15 else "")
            for p in paras
        )
        cols["url"].append(f"https://host{host:02d}.example.org/{seed}/p/{i:07d}")
        # one crawl day per file, as successive crawl slices arrive
        cols["warc_ts"].append(base_ts + timedelta(
            days=first_id // max(n, 1), seconds=(i * 977) % 86400))
        cols["html"].append(
            f"<html><head><title>{title}</title>"
            "<script>var cfg = {a: 1, b: [2,3]};</script>"
            "<style>.c { color: red; }</style></head>"
            f"<body>{body}</body></html>".encode("utf-8")
        )
        cols["text"].append("\n".join([title] + paras))
        cols["lang"].append(lang)
    return cols


def files_of(d: pathlib.Path) -> list[pathlib.Path]:
    return sorted(d.glob("chunk-*.parquet"))


def measure(cols: dict[str, list], from_html: bool) -> dict:
    """Counts over a set of pages, measured on the text the pipeline
    sees; ``build`` sums them over the files and turns them into
    fractions."""
    from streamcorpus_filter_spark.kernels import rules
    from streamcorpus_filter_spark.kernels.extract import extract_text
    from streamcorpus_filter_spark.kernels.scrub import scrub_pii

    texts = [extract_text(h) for h in cols["html"]] if from_html else cols["text"]
    lowered = [t.lower() for t in texts]
    return {
        "docs": len(texts),
        "structural_rejects": sum(rules.structural_reason_fast(t) is not None for t in texts),
        "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
        "html_bytes": sum(len(h) for h in cols["html"]),
        "pii_docs": sum(scrub_pii(t)[2] > 0 for t in texts),
        "toxic_docs": sum(any(w in t for w in TOXIC_TERMS) for t in lowered),
        "entity_docs": sum(any(e in t for e in ENTITY_FORMS) for t in lowered),
    }


def _write_files(jobs: list[list]) -> dict:
    """Generate, write and measure the given files; returns their summed
    counts. Runs in a worker process (see ``build``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    total: dict[str, int] = {}
    for path, pages_per_file, seed, i, from_html in jobs:
        cols = make_pages(pages_per_file, seed, first_id=i * pages_per_file)
        pq.write_table(pa.table({
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }), path)
        for k, v in measure(cols, from_html).items():
            total[k] = total.get(k, 0) + v
    return total


def build(root: pathlib.Path, *, files: int, pages_per_file: int,
          seed: int, from_html: bool) -> tuple[pathlib.Path, dict]:
    """The corpus directory for these parameters, generated on first use
    by one child process per core, each writing every n-th file; returns
    (directory, measured properties)."""
    d = root / f"{'html' if from_html else 'text'}-{files}x{pages_per_file}-s{seed}-v{GENERATOR_VERSION}"
    props_path = d / "props.json"
    if props_path.exists():
        return d, json.loads(props_path.read_text())
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jobs = [[str(tmp / f"chunk-{i:04d}.parquet"), pages_per_file, seed, i, from_html]
            for i in range(files)]
    workers = min(len(os.sched_getaffinity(0)), files)
    procs = [
        subprocess.Popen([sys.executable, __file__, json.dumps(jobs[w::workers])],
                         stdout=subprocess.PIPE)
        for w in range(workers)
    ]
    outs = [p.communicate()[0] for p in procs]
    if any(p.returncode for p in procs):
        raise RuntimeError(f"corpus worker failed: {[p.returncode for p in procs]}")
    parts = [json.loads(o) for o in outs]
    c = {k: sum(p[k] for p in parts) for k in parts[0]}
    n = c["docs"]
    props = {
        "docs": n,
        "structural_rejects": c["structural_rejects"],
        "structural_reject_frac": c["structural_rejects"] / n,
        "mean_text_bytes": c["text_bytes"] / n,
        "mean_html_bytes": c["html_bytes"] / n,
        "pii_doc_frac": c["pii_docs"] / n,
        "toxic_doc_frac": c["toxic_docs"] / n,
        "entity_doc_frac": c["entity_docs"] / n,
        "files": files,
    }
    (tmp / "props.json").write_text(json.dumps(props, indent=1))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, props


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    print(json.dumps(_write_files(json.loads(sys.argv[1]))))
