"""Seeded input generators for the three benchmark workloads.

Every generator takes a ``random.Random`` seeded from the workload seed
and writes plain files (N-Triples, CSV, JSON lines, parquet) into a
directory; the program under test only ever receives those files. The
same seed yields byte-identical files, a different seed different ones
(``test_perfbench.py`` asserts both). Sizes and shapes (distributions
per dataset, the mix of document kinds, list sizes) are fixed by
position, so every seed asks for the same amount of work and the seed
varies only the content.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DCAT = "http://www.w3.org/ns/dcat#"
DCT = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"
VCARD = "http://www.w3.org/2006/vcard/ns#"
SCHEMA = "http://schema.org/"
SKOS = "http://www.w3.org/2004/02/skos/core#"
LODCZCKAN = "http://linked.opendata.cz/ontology/ckan/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
FORMATS = "http://publications.europa.eu/resource/authority/file-type/"
CATALOG = "https://data.example.org/"

_WORDS = (
    "budget census transport water energy school health river road "
    "district permit election tender grant forest air noise parcel "
    "library museum tax bridge rail station tourism crime weather"
).split()
_CS_WORDS = (
    "rozpočet sčítání doprava voda energie škola zdraví řeka silnice "
    "okres povolení volby zakázka dotace les ovzduší hluk parcela"
).split()
_PUBLISHERS = (
    ("Město Brno", "brno"), ("Český statistický úřad", None),
    ("Ministerstvo financí", "mfcr"), ("Správa železnic", None),
    ("Kraj Vysočina", "vysocina"), ("Úřad pro ochranu dat", None),
    ("Povodí Vltavy", None), ("Statutární město Ostrava", "ostrava"),
)
_PERIODS = ("ANNUAL", "MONTHLY", "DAILY", "QUARTERLY", "IRREG")


def _iri(s: str) -> str:
    return f"<{s}>"


def _lit(v: str, lang: str | None = None, dtype: str | None = None) -> str:
    esc = v.replace("\\", "\\\\").replace('"', '\\"')
    if lang:
        return f'"{esc}"@{lang}'
    if dtype:
        return f'"{esc}"^^<{dtype}>'
    return f'"{esc}"'


def _date(rng: random.Random) -> str:
    return f"20{rng.randint(10, 24):02d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _phrase(rng: random.Random, words, n: int) -> str:
    return " ".join(rng.choice(words) for _ in range(n))


# --------------------------------------------------------------- publish


def write_publish_inputs(out_dir: str, seed: int, datasets: int, csv_rows: int,
                         formats: int = 50) -> dict:
    """DCAT-AP catalog (.nt), SKOS file-type codelist (.nt), live CKAN
    resource state (JSON lines) and an FDP budget CSV.

    About a third of the datasets carry live resources: a live resource
    matched by ``distro_url``, one matched by ``url`` only, and one no
    distribution claims (preserved verbatim). Returns the file paths and
    what the output checks need to know."""
    rng = random.Random(f"publish/{seed}")
    os.makedirs(out_dir, exist_ok=True)
    lines: list[str] = []
    live: list[dict] = []
    for i in range(datasets):
        ds = f"{CATALOG}dataset/{seed}-{i}"
        pub_name, org_id = _PUBLISHERS[i % len(_PUBLISHERS)]
        pub = f"{CATALOG}publisher/{_PUBLISHERS.index((pub_name, org_id))}"
        t = [
            (ds, RDF_TYPE, _iri(DCAT + "Dataset")),
            (ds, LODCZCKAN + "datasetID", _lit(f"ds-{seed}-{i:06d}")),
            (ds, DCT + "publisher", _iri(pub)),
            (pub, FOAF + "name", _lit(pub_name, "cs")),
            (pub, FOAF + "name", _lit(pub_name + " (en)", "en")),
            (ds, DCT + "title", _lit(_phrase(rng, _CS_WORDS, 4), "cs")),
            (ds, DCT + "title", _lit(_phrase(rng, _WORDS, 4), "en")),
            (ds, DCT + "description", _lit(_phrase(rng, _CS_WORDS, 12), "cs")),
            (ds, DCT + "description", _lit(_phrase(rng, _WORDS, 12), "en")),
            (ds, DCAT + "contactPoint", _iri(ds + "/contact")),
            (ds + "/contact", VCARD + "hasEmail", _iri(f"mailto:data{i % 97}@example.org")),
            (ds + "/contact", VCARD + "fn", _lit(f"Contact {i % 97}")),
            (ds, DCT + "issued", _lit(_date(rng), dtype=XSD_DATE)),
            (ds, DCT + "modified", _lit(_date(rng), dtype=XSD_DATE)),
            (ds, DCT + "accrualPeriodicity",
             _iri("http://publications.europa.eu/resource/authority/frequency/"
                  + rng.choice(_PERIODS))),
            (ds, DCT + "temporal", _iri(ds + "/temporal")),
            (ds + "/temporal", SCHEMA + "startDate", _lit(_date(rng), dtype=XSD_DATE)),
            (ds + "/temporal", SCHEMA + "endDate", _lit(_date(rng), dtype=XSD_DATE)),
            (ds, FOAF + "page", _iri(f"{CATALOG}schema/{i % 13}")),
            (ds, DCT + "spatial",
             _iri(f"http://ruian.linked.opendata.cz/resource/obce/{500000 + i % 211}")),
        ]
        if org_id:
            t.append((ds, LODCZCKAN + "organizationID", _lit(org_id)))
        for _ in range(1 + i % 4):
            t.append((ds, DCAT + "keyword", _lit(rng.choice(_CS_WORDS), "cs")))
            t.append((ds, DCAT + "keyword", _lit(rng.choice(_WORDS), "en")))
        for th in sorted(rng.sample(range(12), i % 3)):
            t.append((ds, DCAT + "theme", _iri(f"http://eurovoc.europa.eu/{100 + th}")))
        distros = []
        for j in range(i % 4):
            d = f"{ds}/distribution/{j}"
            url = f"https://files.example.org/{seed}/{i}/{j}.csv"
            distros.append((d, url))
            t += [
                (ds, DCAT + "distribution", _iri(d)),
                (d, RDF_TYPE, _iri(DCAT + "Distribution")),
                (d, DCT + "title", _lit(_phrase(rng, _CS_WORDS, 3), "cs")),
                (d, DCT + "title", _lit(_phrase(rng, _WORDS, 3), "en")),
                (d, DCT + "description", _lit(_phrase(rng, _WORDS, 6), "cs")),
                (d, DCT + "format", _iri(f"{FORMATS}F{rng.randrange(formats):03d}")),
                (d, DCAT + "downloadURL", _iri(url)),
                (d, DCAT + "accessURL", _iri(f"https://portal.example.org/{i}/{j}")),
                (d, DCT + "issued", _lit(_date(rng), dtype=XSD_DATE)),
                (d, DCT + "modified", _lit(_date(rng), dtype=XSD_DATE)),
                (d, DCT + "conformsTo", _iri(f"{CATALOG}spec/{j}")),
                (d, DCT + "license", _iri("https://creativecommons.org/licenses/by/4.0/")),
                (d, DCAT + "mediaType",
                 _iri("http://www.iana.org/assignments/media-types/text/csv")),
            ]
        if distros and i % 3 == 0:
            # one live resource per match rule + one nobody claims
            d0, _ = distros[0]
            live.append({"dataset": ds, "id": f"live-{i}-a", "url": "https://old.example.org/a",
                         "distro_url": d0})
            _, u_last = distros[-1]
            if len(distros) > 1:
                live.append({"dataset": ds, "id": f"live-{i}-b", "url": u_last,
                             "distro_url": None})
            live.append({"dataset": ds, "id": f"live-{i}-c",
                         "url": f"https://legacy.example.org/{i}", "distro_url": None})
        lines.extend(f"{_iri(s)} {_iri(p)} {o} ." for s, p, o in t)
    catalog = os.path.join(out_dir, "catalog.nt")
    with open(catalog, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")

    code_lines = []
    for k in range(formats):
        c = f"{FORMATS}F{k:03d}"
        code_lines += [
            f"{_iri(c)} {_iri(RDF_TYPE)} {_iri(SKOS + 'Concept')} .",
            f"{_iri(c)} {_iri(SKOS + 'prefLabel')} {_lit(f'FMT{k:03d}', 'en')} .",
            f"{_iri(c)} {_iri(SKOS + 'prefLabel')} {_lit(f'formát {k}', 'cs')} .",
        ]
    codelist = os.path.join(out_dir, "codelist.nt")
    with open(codelist, "w", encoding="utf-8") as f:
        f.write("\n".join(code_lines) + "\n")

    preserved = []
    for r in live:
        r["raw_json"] = json.dumps(
            {"id": r["id"], "url": r["url"], "custom": f"kept-{r['id']}"},
            separators=(",", ":"),
        )
        if r["id"].endswith("-c"):
            preserved.append(r["raw_json"])
    existing = os.path.join(out_dir, "existing.jsonl")
    with open(existing, "w", encoding="utf-8") as f:
        for r in live:
            f.write(json.dumps(r, sort_keys=True, ensure_ascii=False) + "\n")

    csv_path = os.path.join(out_dir, "budget.csv")
    with open(csv_path, "w", encoding="utf-8") as f:
        f.write("amount;descr;category;period;m1;m2;prog_code;prog_label;dept;division;orgname\n")
        for r in range(csv_rows):
            whole = rng.randint(0, 2_000_000)
            amount = f"{whole:,}".replace(",", " ") + f",{rng.randint(0, 99):02d}"
            y, m, d = rng.randint(2010, 2024), rng.randint(1, 12), rng.randint(1, 28)
            period = (f"{y}-{m:02d}-{d:02d}", f"{y}-{m:02d}", f"{y}",
                      f"{y}-{m:02d}-{d:02d}T{rng.randint(0, 23):02d}:11:12")[r % 4]
            p = rng.randrange(40)
            dept = rng.randrange(30)
            f.write(
                f'"{amount}";item {r};cat{rng.randrange(12)};{period};x{rng.randrange(50)};'
                f"y{rng.randrange(50)};P{p};Program {p};D{dept};Div {dept % 6};"
                f"Org {rng.randrange(25)}\n"
            )
    return {
        "catalog": catalog, "codelist": codelist, "existing": existing, "csv": csv_path,
        "triples": len(lines), "datasets": datasets,
        "csv_rows": csv_rows, "preserved": preserved,
    }


# ---------------------------------------------------------------- curate

_STOP = ("the", "a", "of", "and", "to")
_TOPIC = (
    "data table query spark batch stream window merge filter value column "
    "order index engine cluster shard ledger commit retract schema graph "
    "vector metric corpus token record field source sink reader writer"
).split()
_DE = "der die das und ist nicht mit auf".split()


def _doc_text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(_TOPIC)
                    for _ in range(n))


def _mutate(rng: random.Random, text: str, n_edits: int) -> str:
    w = text.split()
    for _ in range(n_edits):
        w[rng.randrange(len(w))] = rng.choice(_TOPIC)
    return " ".join(w)


def write_curate_inputs(out_dir: str, seed: int, docs: int) -> dict:
    """Corpus of ``docs`` documents with monotone ids (doc_id, source,
    text) as one parquet file: English prose that passes the lang and
    quality gates, a share of German and low-quality docs the gates
    drop, exact copies, word-level near-duplicates of earlier docs, and
    train docs that embed a benchmark (``src0``) doc so decontamination
    has pairs to find. Later ids also near-duplicate earlier ones, so
    every delta can displace canonicals."""
    rng = random.Random(f"curate/{seed}")
    os.makedirs(out_dir, exist_ok=True)
    ids, sources, texts = [], [], []
    bench: list[str] = []
    for i in range(docs):
        r = (i * 37 % 100) / 100  # the same mix of kinds for every seed
        src = "src0" if i % 9 == 0 else f"src{1 + i % 4}"
        if texts and r < 0.12:
            text = _mutate(rng, rng.choice(texts), 2)  # near-duplicate
        elif texts and r < 0.15:
            text = rng.choice(texts)  # exact copy
        elif bench and r < 0.22 and src != "src0":
            text = rng.choice(bench) + " " + _doc_text(rng, 6)  # contamination
        elif r < 0.26:
            text = " ".join(rng.choice(_DE) for _ in range(60))  # other language
        elif r < 0.29:
            text = "the data " * 3  # too short for the quality gate
        else:
            text = _doc_text(rng, rng.randint(60, 110))
        if src == "src0" and r >= 0.15:
            bench.append(text)
        ids.append(i)
        sources.append(src)
        texts.append(text)
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "source": sources, "text": texts}),
        path,
    )
    return {"docs": path, "n_docs": docs, "text_bytes": [len(t.encode()) for t in texts]}


# ----------------------------------------------------------------- serve


def write_serve_inputs(out_dir: str, seed: int, vectors: int, probes: int,
                       dims: int = 64, labels: int = 10) -> dict:
    """Labelled ``dims``-dimensional vectors clustered around ``labels``
    centres (vec_id, embedding, label — the ``embeddings`` table shape)
    and out-of-corpus probe vectors under a disjoint id range."""
    rng = random.Random(f"serve/{seed}")
    os.makedirs(out_dir, exist_ok=True)
    centres = [[rng.gauss(0, 1) for _ in range(dims)] for _ in range(labels)]

    def vec(c):
        return [x + rng.gauss(0, 0.35) for x in c]

    lab = [i % labels for i in range(vectors)]
    table = pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array([vec(centres[k]) for k in lab], pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })
    vpath = os.path.join(out_dir, "vectors.parquet")
    pq.write_table(table, vpath)
    ptable = pa.table({
        "vec_id": pa.array(range(1_000_000, 1_000_000 + probes), pa.int64()),
        "embedding": pa.array([vec(centres[j % labels]) for j in range(probes)],
                              pa.list_(pa.float64())),
    })
    ppath = os.path.join(out_dir, "probes.parquet")
    pq.write_table(ptable, ppath)
    return {"vectors": vpath, "probes": ppath}
