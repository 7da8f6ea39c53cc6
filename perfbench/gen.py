"""Seeded input generators.

Everything here runs before the session exists and outside every timed
window. The same seed gives the same files, byte for byte.

Census: per-state tract counts from a seeded formula, one wire-format body
(JSON array of arrays, all cells strings, header first) per request key,
and the rows the pipeline must emit for each request, already cleaned the
way ``cast_clean`` specifies (blank or ACS sentinel -> NULL, else integer).

Corpus: a ``documents.parquet`` with the testdata schema, a vocabulary that
contains the English stopwords the quality gate counts, and planted exact
copies, case/punctuation variants and token-drop near duplicates.
"""

from __future__ import annotations

import csv
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from clean_census_acs_data_spark.operators.text import LANG_STOPWORDS
from clean_census_acs_data_spark.sources.census import DATASETS, MAPPING_CSV, STATE_FIPS

# The envelope in BASELINE.md: about 85k tracts nationally.
NATIONAL_TRACTS = 85_000
CHUNK_SIZE = 3
SENTINELS = ("-888888888", "-999999999", "-666666666", "-222222222")
TABLES = tuple(DATASETS)
FIRST_VAR = {cfg["variables"][0]: name for name, cfg in DATASETS.items()}


def state_chunks() -> list[str]:
    """The request universe's state chunks, in request order: sorted FIPS
    codes cut into runs of three (the reference's chunk_list)."""
    fips = sorted(STATE_FIPS)
    return [",".join(fips[i : i + CHUNK_SIZE]) for i in range(0, len(fips), CHUNK_SIZE)]


def request_keys() -> list[str]:
    return [f"{t}|{c}" for t in TABLES for c in state_chunks()]


def key_of(params: dict[str, str]) -> str:
    """Map a fetch call's params back to its request key."""
    first_var = params["get"].split(",")[1]
    return f"{FIRST_VAR[first_var]}|{params['in'].removeprefix('state:')}"


def _mapping() -> dict[str, str]:
    with open(MAPPING_CSV, newline="") as f:
        return {r["api_code"].upper().strip(): r["label"] for r in csv.DictReader(f)}


def tract_counts(seed: int, total: int) -> dict[str, int]:
    """Seeded per-state tract counts summing to about ``total``: lognormal
    weights, so a few large states dominate as in the real universe."""
    rng = random.Random(f"tracts:{seed}")
    w = {s: rng.lognormvariate(0.0, 0.8) for s in STATE_FIPS}
    norm = sum(w.values())
    return {s: max(1, round(total * w[s] / norm)) for s in STATE_FIPS}


def _cell(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.015:
        return ""
    if r < 0.03:
        return SENTINELS[rng.randrange(len(SENTINELS))]
    return str(rng.randrange(100_000))


def _clean(cell: str) -> int | None:
    """cast_clean's contract, restated: blank or sentinel -> NULL."""
    cell = cell.strip()
    return None if cell == "" or cell in SENTINELS else int(cell)


def make_census(out_dir: str, seed: int, scale: float) -> dict:
    """Render every request's body to ``out_dir/bodies`` and the cleaned
    expected output to ``out_dir/expected.parquet``. Returns a summary."""
    mapping = _mapping()
    counts = tract_counts(seed, max(len(STATE_FIPS), round(NATIONAL_TRACTS * scale)))
    bodies = os.path.join(out_dir, "bodies")
    os.makedirs(bodies, exist_ok=True)
    labels = {t: [mapping[v] for v in dict.fromkeys(DATASETS[t]["variables"])] for t in TABLES}
    all_labels = [lab for t in TABLES for lab in labels[t]]
    cols: dict[str, list] = {c: [] for c in ("TABLE_NAME", "STATE_FIPS", "NAME", "STATE", "COUNTY", "TRACT")}
    cols.update({lab: [] for lab in all_labels})
    rows = 0
    for table in TABLES:
        variables = list(dict.fromkeys(DATASETS[table]["variables"]))
        header = ["NAME", *variables, "state", "county", "tract"]
        for chunk in state_chunks():
            rng = random.Random(f"body:{seed}:{table}:{chunk}")
            wire = [header]
            for st in chunk.split(","):
                for i in range(counts[st]):
                    county, tract = f"{1 + 2 * (i // 40):03d}", f"{(i + 1) * 100:06d}"
                    cells = [_cell(rng) for _ in variables]
                    wire.append([f"Census Tract {i + 1}, County {county}, State {st}", *cells, st, county, tract])
                    cols["TABLE_NAME"].append(table)
                    cols["STATE_FIPS"].append(chunk)
                    cols["NAME"].append(wire[-1][0])
                    cols["STATE"].append(st)
                    cols["COUNTY"].append(county)
                    cols["TRACT"].append(tract)
                    for lab in all_labels:
                        cols[lab].append(None)
                    for lab, cell in zip(labels[table], cells):
                        cols[lab][-1] = _clean(cell)
            key = f"{table}|{chunk}"
            rows += len(wire) - 1
            with open(os.path.join(bodies, _body_name(key)), "w") as f:
                json.dump(wire, f, separators=(",", ":"))
    schema = pa.schema(
        [(c, pa.int64() if c in set(all_labels) else pa.string()) for c in cols]
    )
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, "expected.parquet"))
    return {"rows": rows}


def _body_name(key: str) -> str:
    return key.replace("|", "__").replace(",", "_") + ".json"


def body_path(bodies_dir: str, key: str) -> str:
    return os.path.join(bodies_dir, _body_name(key))


# Fixed counts per fault kind; the seed only chooses which requests get
# them, so attempts and failures per rep are the same on every seed. The
# kinds follow ROADMAP direction 3 (transport errors stand for its
# timeouts; dropped columns are not injected). The counts are assumptions,
# since no Census API error rates are on record: about a quarter of the 68
# requests meet a fault, and every kind occurs.
FAULTS = {"permanent_500": 3, "truncated": 1, "transient_429": 8, "transient_exc": 6}
MAX_ATTEMPTS = 5  # fetch_responses' default retry budget


def fault_schedule(seed: int) -> dict[str, list[str]]:
    """Per request key, the outcome of each successive attempt: ``ok``,
    ``429``, ``exc`` (transport exception), ``500`` or ``trunc`` (a 200
    whose body is cut short). Keys not listed succeed first time."""
    rng = random.Random(f"faults:{seed}")
    keys = rng.sample(request_keys(), sum(FAULTS.values()))
    sched: dict[str, list[str]] = {}
    it = iter(keys)
    for _ in range(FAULTS["permanent_500"]):
        sched[next(it)] = ["500"] * MAX_ATTEMPTS
    for _ in range(FAULTS["truncated"]):
        sched[next(it)] = ["trunc", "ok"]
    for kind, code in (("transient_429", "429"), ("transient_exc", "exc")):
        for j in range(FAULTS[kind]):
            sched[next(it)] = [code] * (1 + j % 2) + ["ok"]
    return sched


def attempts_expected(outcomes: list[str]) -> int:
    """Attempts the fetch layer makes: up to and including the first 2xx
    (``ok`` or ``trunc``), capped at the retry budget."""
    for i, o in enumerate(outcomes[:MAX_ATTEMPTS]):
        if o in ("ok", "trunc"):
            return i + 1
    return MAX_ATTEMPTS


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

_SYLLABLES = ("ka", "lo", "mi", "ner", "sto", "va", "ri", "den", "pal", "tu", "gor", "be", "sin", "qua", "fe")


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str], stop: tuple[str, ...]) -> str:
    n = rng.randint(8, 120)
    p_stop = rng.uniform(0.05, 0.5)
    return " ".join(rng.choice(stop) if rng.random() < p_stop else rng.choice(vocab) for _ in range(n))


def _case_punct_variant(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    out = []
    for t in toks:
        r = rng.random()
        if r < 0.3:
            t = t.capitalize()
        elif r < 0.4:
            t = t.upper()
        if rng.random() < 0.15:
            t += rng.choice((",", ".", "!", ";"))
        out.append(t)
    return " ".join(out)


def _token_drop_variant(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    if len(toks) < 12:
        return text + " " + toks[0]
    drop = set(rng.sample(range(1, len(toks) - 1), max(1, len(toks) // 25)))
    return " ".join(t for i, t in enumerate(toks) if i not in drop)


def make_corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``out_dir/documents.parquet``: about 85% original documents,
    5% exact copies, 5% case/punctuation variants and 5% token-drop near
    duplicates of earlier documents, ids shuffled below 1,000,000 (the
    offset plant_near_dups reserves)."""
    rng = random.Random(f"corpus:{seed}")
    vocab = _vocabulary(rng, 400)
    stop = LANG_STOPWORDS["en"]
    texts: list[str] = []
    kinds = {"original": 0, "exact": 0, "case_punct": 0, "token_drop": 0}
    while len(texts) < n_docs:
        r = rng.random()
        if len(texts) < 20 or r < 0.85:
            texts.append(_doc(rng, vocab, stop))
            kinds["original"] += 1
            continue
        src = texts[rng.randrange(len(texts))]
        if r < 0.90:
            texts.append(src)
            kinds["exact"] += 1
        elif r < 0.95:
            texts.append(_case_punct_variant(rng, src))
            kinds["case_punct"] += 1
        else:
            texts.append(_token_drop_variant(rng, src))
            kinds["token_drop"] += 1
    ids = rng.sample(range(n_docs * 4), n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{i % 4}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {"docs": n_docs, "kinds": kinds}
