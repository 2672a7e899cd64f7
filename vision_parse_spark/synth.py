"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Generates the input table shape from BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp)`` with payload kinds that exercise every
reference behavior (P1 empty rule, P2 fast path, T5 heading/list/
table/LaTeX formatting, T6 fences, T8-T12 image regions, HTML
boilerplate strip).

Everything is a pure function of the global turn id — generation is
identical regardless of batching/partitioning, so the same table can
be produced on the driver (tests) or distributed via ``spark.range``
-> ``mapInPandas`` (bench at millions of turns) with bit-identical
content.  Conversation lengths follow a fixed Zipf-ish periodic
pattern (a few very long conversations per period) to exercise skew
handling.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd

SEED = 42

# bump when generated content changes (cache-busts bench input dirs
# under /tmp so scaling/bench arms never read a previous version's
# payload mix)
SYNTH_VERSION = 4

# Zipf-ish conversation-length pattern, repeated periodically.  One
# 96-turn conversation per 32 -> long-conv skew without driver state.
CONV_LEN_PATTERN = np.array(
    [96, 3, 5, 2, 8, 4, 3, 6, 2, 12, 3, 4, 7, 2, 5, 3,
     24, 4, 2, 6, 3, 9, 2, 4, 5, 3, 7, 2, 4, 16, 3, 5],
    dtype=np.int64,
)
_PATTERN_CUM = np.concatenate([[0], np.cumsum(CONV_LEN_PATTERN)])
_PERIOD_TURNS = int(_PATTERN_CUM[-1])
_PERIOD_CONVS = len(CONV_LEN_PATTERN)

KINDS = ["empty", "plain", "headed", "table", "latex", "html", "fenced", "imaged"]

_WORDS = np.array(
    """the quick brown system answer model spark data pipeline turn stream
    batch table query result token vector merge column filter window value
    order join scan group sort hash partition shuffle broadcast skew salt
    lineage commit page region image text heading list cell row anchor
    render extract format detect classify measure verify golden fixture""".split(),
    dtype=object,
)
_ROLES = np.array(["user", "assistant", "tool"], dtype=object)


def _mix(ids: np.ndarray, k: int) -> np.ndarray:
    """SplitMix64-style deterministic per-id hash stream (vectorized,
    intentional uint64 wraparound)."""
    with np.errstate(over="ignore"):
        z = (ids.astype(np.uint64)
             + np.uint64((k * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
             + np.uint64((SEED * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _words_text(ids: np.ndarray, n_words: int, k0: int) -> pd.Series:
    """n_words seeded words per id, space-joined (vectorized add)."""
    cols = []
    for k in range(n_words):
        w = _WORDS[(_mix(ids, k0 + k) % np.uint64(len(_WORDS))).astype(np.int64)]
        cols.append(pd.Series(w, dtype="object"))
    return reduce(lambda a, b: a + " " + b, cols)


def ids_to_conv(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Closed-form global-turn-id -> (conv ordinal, turn_idx)."""
    period = ids // _PERIOD_TURNS
    off = ids % _PERIOD_TURNS
    slot = np.searchsorted(_PATTERN_CUM, off, side="right") - 1
    conv_ord = period * _PERIOD_CONVS + slot
    turn_idx = off - _PATTERN_CUM[slot]
    return conv_ord, turn_idx


def gen_payloads(ids: np.ndarray) -> pd.DataFrame:
    """Build transcript rows for the given global turn ids."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    conv_ord, turn_idx = ids_to_conv(ids)
    # full ordinal, zero-padded to >= 6 digits (np.char.zfill would
    # cut 7+-digit ordinals to its width and collide keys)
    conv_id = "conv-" + pd.Series(conv_ord).astype(str).str.zfill(6)
    role = _ROLES[turn_idx % 3]
    tool = np.where(role == "tool",
                    np.char.add("tool-", (_mix(ids, 901) % np.uint64(4)).astype(str)),
                    "")
    kind_idx = (_mix(ids, 7) % np.uint64(len(KINDS))).astype(np.int64)

    body = _words_text(ids, 24, 100)           # base paragraph
    body2 = _words_text(ids, 16, 200)          # second paragraph
    title = _words_text(ids, 3, 300)
    cell = _words_text(ids, 1, 400)
    cell2 = _words_text(ids, 1, 410)
    num = pd.Series((_mix(ids, 500) % np.uint64(997)).astype(str), dtype="object")
    num2 = pd.Series((_mix(ids, 510) % np.uint64(97)).astype(str), dtype="object")

    text = pd.Series([""] * n, dtype="object")

    m = kind_idx == 0  # empty
    ws = np.array(["", "   ", "\n\n", " \t \n"], dtype=object)
    text[m] = ws[(_mix(ids[m], 9) % np.uint64(4)).astype(np.int64)]

    m = kind_idx == 1  # plain: 2 paragraphs -> P2 fast path
    text[m] = body[m] + ".\n\n" + body2[m] + "."

    # pdf: genuine mini-PDF payloads (FlateDecode streams, xref,
    # page tree — functions/pdf.py make_pdf_bytes), carved out of a
    # quarter of the 'plain' rows so the rest of the kind mapping (and
    # its goldens) stays stable.  Stored latin-1-mapped in the string
    # column; exercises the real text-layer parser end-to-end.
    m_pdf = m & (_mix(ids, 8) % np.uint64(4) == 0)
    if m_pdf.any():
        from .functions.pdf import make_pdf_bytes

        sel = np.flatnonzero(m_pdf)
        n_pages = 1 + (_mix(ids[m_pdf], 630) % np.uint64(3)).astype(np.int64)
        # a quarter of pdf payloads embed a real /Image XObject (a
        # gradient block sized from the id) exercising the embedded-
        # image -> CV-region -> media-sink channel end to end
        img_flag = (_mix(ids, 631) % np.uint64(4) == 0)
        img_geom = _mix(ids, 632)
        # v4: a disjoint quarter draws a vector pie figure (path fills)
        # on page 0, exercising the raster-fallback channel end to end
        vec_flag = (_mix(ids, 631) % np.uint64(4) == 1)
        t_arr = title.to_numpy()
        b_arr = body.to_numpy()
        b2_arr = body2.to_numpy()
        vals = []
        for pos, npg in zip(sel, n_pages):
            pages = [
                [f"{t_arr[pos]} page {p + 1}",
                 b_arr[pos][: 60 + 7 * p],
                 b2_arr[pos][:60]]
                for p in range(int(npg))
            ]
            images = None
            if img_flag[pos]:
                g = int(img_geom[pos])
                w = 110 + (g % 64)
                h = 105 + ((g >> 6) % 64)
                grad = np.linspace(60, 200, w).astype(np.uint8)
                images = {0: np.repeat(
                    np.broadcast_to(grad, (h, w))[:, :, None], 3, axis=2)}
            vals.append(
                make_pdf_bytes(
                    pages, images=images,
                    vector_figures=[0] if vec_flag[pos] else None,
                ).decode("latin-1"))
        text[m_pdf] = vals

    m = kind_idx == 2  # headed: title + sections + bullets
    text[m] = (
        title[m] + "\n\n" + body[m] + ".\n\nDETAILS SECTION\n\n"
        + "* " + cell[m] + " item one\n"
        + "* " + cell2[m] + " item two\n"
        + "1) " + cell[m] + " step\n"
    )

    m = kind_idx == 3  # table: aligned columns
    text[m] = (
        title[m] + " report\n\n"
        + "name      count     score\n"
        + cell[m] + "      " + num[m] + "      " + num2[m] + "\n"
        + cell2[m] + "      " + num2[m] + "      " + num[m] + "\n\n"
        + body2[m] + "."
    )

    m = kind_idx == 4  # latex
    text[m] = (
        body[m] + ", where $x_" + num2[m] + " = \\frac{" + num[m] + "}{"
        + num2[m] + "}$ holds.\n\n$$\\sum_{i=0}^{" + num2[m]
        + "} x_i^2 = " + num[m] + "$$\n\n" + body2[m] + "."
    )

    m = kind_idx == 5  # html with boilerplate
    text[m] = (
        "<!DOCTYPE html><html><head><title>t</title>"
        + "<script>var x=1;</script></head><body>"
        + "<nav><ul><li>Home</li><li>About</li></ul></nav>"
        + "<header>Site Header</header>"
        + "<article><h1>" + title[m] + "</h1>"
        + "<p>" + body[m] + ".</p>"
        + "<h2>Notes</h2><p>" + body2[m] + ".</p>"
        + "<ul><li>alpha " + cell[m] + "</li><li>beta " + cell2[m] + "</li></ul>"
        + "</article><footer>copyright " + num[m] + "</footer></body></html>"
    )

    m = kind_idx == 6  # fenced markdown
    text[m] = "```markdown\n# " + title[m] + "\n\n" + body[m] + ".\n```"

    m = kind_idx == 7  # imaged: paragraph + deterministic page-image marker
    iw = 110 + (_mix(ids[m], 600) % np.uint64(120)).astype(np.int64)
    ih = 110 + (_mix(ids[m], 610) % np.uint64(160)).astype(np.int64)
    iseed = (_mix(ids[m], 620) % np.uint64(1 << 31)).astype(np.int64)
    text[m] = (
        body[m] + ".\n\n[[PAGE_IMAGE w=" + iw.astype(str) + " h=" + ih.astype(str)
        + " seed=" + iseed.astype(str) + "]]\n"
    )

    ts = (
        np.datetime64("2026-01-01T00:00:00")
        + turn_idx.astype("timedelta64[s]") * 17
        + (conv_ord % 86400).astype("timedelta64[s]")
    )

    return pd.DataFrame(
        {
            "conv_id": pd.Series(conv_id, dtype="object"),
            "turn_idx": turn_idx.astype("int32"),
            "role": pd.Series(role, dtype="object"),
            "text": pd.Series(text, dtype="object"),
            "tool": pd.Series(tool.astype(object), dtype="object"),
            "ts": pd.Series(ts),
        }
    )


def synth_transcripts_pdf(n_turns: int, start: int = 0) -> pd.DataFrame:
    """Driver-side generation (tests / small fixtures)."""
    return gen_payloads(np.arange(start, start + n_turns, dtype=np.int64))


def synth_transcripts_spark(spark, n_turns: int, partitions: int = 32):
    """Distributed generation: spark.range -> mapInPandas, bit-identical
    to the driver-side generator for the same ids."""
    from .schema import TRANSCRIPT_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield gen_payloads(pdf["id"].to_numpy())

    return spark.range(0, n_turns, 1, partitions).mapInPandas(
        gen, schema=TRANSCRIPT_SCHEMA
    )
