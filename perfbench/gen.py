"""Seeded transcript generator for the benchmark.

Everything is drawn from one ``random.Random`` keyed on the seed, so the
same seed and conversation count give byte-identical rows. The program
under test sees only the parquet file written here plus the gazetteer
dictionary (``jcpg_spark.synth.gazetteer_pdf``) whose surfaces the texts
mention.

The traffic profile is fixed by the module constants below; README.md in
this folder gives the source of each, or says it is an assumption.
"""

from __future__ import annotations

import datetime as dt
import random
import statistics

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# {a}/{b} are entity-surface slots; "introducing {a} as {b}" is the
# alias-introduction form the canonicalizer reads.
_USER = [
    "can you check {a} for me",
    "is {a} still wired to {b}? it failed last night",
    "please compare {a} and {b}. then report back",
    "what happened to {a}",
]
_ASSISTANT = [
    "looking at {a} now",
    "{a} calls {b}. i will trace {a} next",
    "the {a} config is fine! moving on",
    "{a} and {b} both look healthy",
]
_PLAIN = ["thanks, that helps", "done. anything else?", "ok"]
_TOOL_OK = [
    "tool output: {a} returned 3 rows",
    "tool output: {a} ok. {b} ok",
]
_TOOL_FAIL = "tool output: no results for {a}"
_INTRO = "introducing {a} as {b}"


# Conversation lengths: geometric over [MIN_LEN, MAX_LEN] with one hot
# conversation at HOT_FACTOR x the median (FIXTURES.md). FIXTURES.md gives
# no median for the geometric draw; MEDIAN_LEN is an assumption.
MEDIAN_LEN, MIN_LEN, MAX_LEN, HOT_FACTOR = 12, 2, 40, 100
# Of the user and assistant turns, INTRO_SHARE introduce an alias and
# MENTION_SHARE (introductions included) mention entities: 1 and 8 of the
# 10 TEMPLATES of jcpg_spark/synth.py.
INTRO_SHARE, MENTION_SHARE = 0.1, 0.8
# Distinct entities per conversation, so mentions repeat. An assumption:
# synth.py draws every mention from the whole gazetteer.
POOL_SIZE = 4
# Assistant turns that call a tool (synth.py: hash % 3 == 0) and tool
# outputs that fail (1 of the 3 TOOL_TEMPLATES of synth.py).
TOOL_SHARE, FAIL_SHARE = 1 / 3, 1 / 3


def _lengths(rng: random.Random, n_conv: int) -> list[int]:
    # geometric with median MEDIAN_LEN, clipped to [MIN_LEN, MAX_LEN]
    p = 1 - 0.5 ** (1 / (MEDIAN_LEN - MIN_LEN))
    out = []
    for _ in range(n_conv):
        k = MIN_LEN
        while rng.random() > p and k < MAX_LEN:
            k += 1
        out.append(k)
    hot = rng.randrange(n_conv)
    out[hot] = HOT_FACTOR * int(statistics.median(out))
    return out


def _surfaces(gazetteer: pd.DataFrame) -> tuple[list[str], list[tuple[str, str]]]:
    """-> (mentionable surfaces, (surface, alias surface) pairs whose
    canonicals differ, so an introduction merges two components)."""
    g = gazetteer[gazetteer["kind"] != "tool"]
    surfaces = sorted(set(g["surface"]))
    canon = dict(zip(g["surface"], g["canonical"]))
    aliases = sorted(
        (s[: -len(" alias")], s)
        for s in surfaces
        if s.endswith(" alias") and canon.get(s[: -len(" alias")]) not in (None, canon[s])
    )
    return surfaces, aliases


def generate(seed: int, n_conv: int, gazetteer: pd.DataFrame, first_conv: int = 0) -> pd.DataFrame:
    """-> transcripts (conv_id, turn_idx, role, text, tool, ts) for
    conversations ``first_conv .. first_conv + n_conv - 1``."""
    rng = random.Random(f"{seed}:{first_conv}:{n_conv}")
    surfaces, aliases = _surfaces(gazetteer)
    tools = sorted(set(gazetteer.loc[gazetteer["kind"] == "tool", "namespace"]))
    rows = []
    for i, n in enumerate(_lengths(rng, n_conv)):
        conv = f"conv{first_conv + i:07d}"
        pool = rng.sample(surfaces, POOL_SIZE)
        start = rng.randrange(86_400)
        pending_tool = None
        for t in range(n):
            a, b = rng.choice(pool), rng.choice(pool)
            tool = None
            if pending_tool is not None:
                role = "tool"
                tmpl = _TOOL_FAIL if rng.random() < FAIL_SHARE else rng.choice(_TOOL_OK)
                pending_tool = None
            else:
                role = "user" if t % 2 == 0 else "assistant"
                r = rng.random()
                if r < INTRO_SHARE:
                    a, b = rng.choice(aliases)
                    pool[rng.randrange(len(pool))] = b
                    tmpl = _INTRO
                elif r < MENTION_SHARE:
                    tmpl = rng.choice(_USER if role == "user" else _ASSISTANT)
                else:
                    tmpl = rng.choice(_PLAIN)
                if role == "assistant" and t + 1 < n and rng.random() < TOOL_SHARE:
                    tool = pending_tool = rng.choice(tools)
            rows.append(
                (conv, t, role, tmpl.format(a=a, b=b), tool,
                 _EPOCH + dt.timedelta(seconds=start + 11 * t))
            )
    return pd.DataFrame(rows, columns=SCHEMA.names)


def write(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False), path)
