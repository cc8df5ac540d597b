"""Seeded input generator for the benchmark.

Everything a run feeds the engine is made here from ``--seed`` before any
timed section starts:

- ``write_sources`` writes the three source tables the engine's loaders
  read (``customer``, ``nation``, ``events`` parquet, same columns as the
  TPC-H-style test data), so ``sources.tables.bizcard_text_records`` and
  ``sources.tables.user_graph_edges`` derive the card corpus and the user
  graph exactly as they do for real inputs.
- ``search_requests`` / ``pymk_names`` / ``serve_stream`` draw the request
  mix, Zipf-distributed over the card vocabulary and over the people who
  have friends.
- ``ingest_batches`` splits the card records into a base load and
  100-record batches, with a share of re-uploads of earlier cards.

Only the standard library, NumPy and pyarrow are used, so the generator
does not depend on the program it feeds.

The source tables copy the size and shape of the sf0.1 test inputs,
measured from their histograms (see README.md): every draw is uniform and
independent there. The request-mix constants have no measured basis; they
are unverified choices, listed as such in README.md.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of the sf0.1 inputs: 15000 customers (one card each); 100000
# events over 1500 users.
CUSTOMERS = 15_000
USERS = 1_500
EVENTS = 100_000

# Request mix and ingest stream (unverified: no traffic data exists).
KEYWORD_ZIPF_S = 1.0
OWNER_ZIPF_S = 1.0
PYMK_ZIPF_S = 1.0
SEARCH_SHARE = 0.5
OWNER_FILTER_SHARE = 0.25
OWNER_ONLY_SHARE = 0.1
REUPLOAD_SHARE = 0.1
#: the reference's Kinesis batch size
BATCH_SIZE = 100
#: cards in the ingest base load. Not measured: a fiftieth of the corpus,
#: to fit the run budget (a base load of the whole corpus took ~80 s on 4
#: cores).
BASE_LOAD_CARDS = 300

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

#: Company-name stems; each seed picks 25 of them as the nation names the
#: card corpus's company line is built from.
NATION_WORDS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI", "VIETNAM", "RUSSIA", "KINGDOM", "STATES", "CHILE", "NORWAY",
    "SWEDEN", "POLAND", "SPAIN", "PORTUGAL", "GREECE", "TURKEY", "KOREA",
    "MEXICO", "NIGERIA", "GHANA", "FINLAND", "DENMARK", "AUSTRIA",
]

_TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def zipf_probs(n: int, s: float) -> np.ndarray:
    """P(rank r) proportional to 1 / r**s over ranks 1..n."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def write_sources(out_dir: str, seed: int) -> None:
    """Write customer / nation / events parquet under ``out_dir``. Nations,
    segments and the user of each event are uniform, as in sf0.1."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    names = rng.choice(NATION_WORDS, size=25, replace=False)
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([str(n) for n in names]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )

    n = CUSTOMERS
    keys = np.arange(n, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys),
                "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
                "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
                "c_mktsegment": pa.array(
                    [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n)]
                ),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )

    e = EVENTS
    ts = np.sort(rng.integers(0, 86_400 * 30 * 1_000_000, e)) + 1_704_067_200_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(e, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, USERS, e, dtype=np.int64)),
                "event_type": pa.array(
                    [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), e)]
                ),
                "value": pa.array(np.round(rng.uniform(0, 200, e), 2)),
                "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, e)]),
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )


# ---------------------------------------------------------------------------
# Request streams
# ---------------------------------------------------------------------------

def tokens(text: str) -> list[str]:
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def _owner(s3_key: str) -> str:
    return s3_key.rsplit("/", 1)[-1].split("_")[0]


def card_vocabulary(records: list[tuple]) -> list[str]:
    """Searchable tokens of the card records ranked by document frequency
    (desc, then token): the positional company / name / title lines plus
    the Seoul-style address line, the fields the search endpoint scores."""
    df: dict[str, int] = {}
    for _, _, lines in records:
        fields = list(lines[:3]) + [ln for ln in lines[3:] if "seoul" in ln.lower()]
        for tok in {t for f in fields for t in tokens(f)}:
            df[tok] = df.get(tok, 0) + 1
    return sorted(df, key=lambda t: (-df[t], t))


@dataclass(frozen=True)
class Search:
    query: str | None
    owner: str | None


@dataclass(frozen=True)
class Pymk:
    name: str


def _stratified(rng: np.random.Generator, count: int, shares: dict[str, float], cycle: int) -> list[str]:
    """``count`` labels whose mix matches ``shares`` exactly in every run of
    ``cycle`` consecutive labels (shuffled within the run), so short
    streams carry the declared mix instead of a random one."""
    quota = {k: round(v * cycle) for k, v in shares.items()}
    rest = cycle - sum(quota.values())
    out: list[str] = []
    while len(out) < count:
        block = [k for k, n in quota.items() for _ in range(n)] + [None] * rest
        out.extend(block[i] for i in rng.permutation(cycle))
    return out[:count]


def search_requests(rng: np.random.Generator, records: list[tuple], count: int) -> list[Search]:
    """Search requests: 1-3 distinct keywords drawn Zipf from the card
    vocabulary; a share carries an owner filter and a share is owner-only
    (exact shares in every 20 consecutive requests)."""
    vocab = card_vocabulary(records)
    p_tok = zipf_probs(len(vocab), KEYWORD_ZIPF_S)
    owners = sorted({_owner(r[1]) for r in records})
    p_owner = zipf_probs(len(owners), OWNER_ZIPF_S)
    owner_perm = rng.permutation(len(owners))
    kinds = _stratified(
        rng,
        count,
        {"owner_only": OWNER_ONLY_SHARE, "owner_filter": OWNER_FILTER_SHARE},
        20,
    )
    out = []
    for kind in kinds:
        owner = None
        if kind is not None:
            owner = owners[owner_perm[rng.choice(len(owners), p=p_owner)]]
        if kind == "owner_only":
            out.append(Search(None, owner))
            continue
        k = int(rng.integers(1, 4))
        toks = [vocab[i] for i in rng.choice(len(vocab), size=k, replace=False, p=p_tok)]
        out.append(Search(" ".join(toks), owner))
    return out


def pymk_names(rng: np.random.Generator, names: list[str], count: int) -> list[Pymk]:
    """PYMK requests: names drawn Zipf (over a seeded popularity order)
    from ``names``, the people that have at least one friend."""
    names = sorted(names)
    perm = rng.permutation(len(names))
    p = zipf_probs(len(names), PYMK_ZIPF_S)
    return [Pymk(names[perm[i]]) for i in rng.choice(len(names), size=count, p=p)]


def serve_stream(
    rng: np.random.Generator, records: list[tuple], names: list[str], count: int
) -> list[Search | Pymk]:
    """The serve mix: searches and PYMKs in the ``SEARCH_SHARE`` ratio,
    exact in every 10 consecutive requests."""
    kinds = _stratified(rng, count, {"search": SEARCH_SHARE}, 10)
    is_search = [k == "search" for k in kinds]
    searches = iter(search_requests(rng, records, sum(is_search)))
    pymks = iter(pymk_names(rng, names, count - sum(is_search)))
    return [next(searches) if s else next(pymks) for s in is_search]


# ---------------------------------------------------------------------------
# Ingest batches
# ---------------------------------------------------------------------------

def ingest_batches(
    rng: np.random.Generator, records: list[tuple], count: int
) -> tuple[list[tuple], list[list[tuple]]]:
    """(base load, ``count`` batches). Records arrive in a seeded order;
    the first ``BASE_LOAD_CARDS`` form the base load, the next go in
    ``BATCH_SIZE`` batches. In each batch a ``REUPLOAD_SHARE`` of the
    slots is a re-upload of an already-ingested card (same image key, a
    changed job title line), so the newest upload must win."""
    order = rng.permutation(len(records))
    base = [records[i] for i in order[:BASE_LOAD_CARDS]]
    fresh = iter(records[i] for i in order[BASE_LOAD_CARDS:])
    seen = list(base)
    batches = []
    for _ in range(count):
        batch = []
        while len(batch) < BATCH_SIZE:
            if rng.random() < REUPLOAD_SHARE:
                bucket, key, lines = seen[int(rng.integers(0, len(seen)))]
                lines = list(lines)
                title = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
                lines[2] = f"Senior {title} Lead"
                rec = (bucket, key, lines)
            else:
                rec = next(fresh)
            if any(r[1] == rec[1] for r in batch):
                continue  # one upload per image within a batch
            batch.append(rec)
            seen.append(rec)
        batches.append(batch)
    return base, batches


def batch_probe_names(batch: list[tuple]) -> list[str]:
    """The per-card unique name token of a batch's cards (the 9-digit
    customer number), used by the read-your-writes probe."""
    out = []
    for _, _, lines in batch:
        toks = tokens(lines[1])
        out.append(toks[-1] if toks else "")
    return out
