"""Seeded input generators and their closed-form expected results.

Pure Python (no Spark import): the engine process and the load process
both import it, and the load process must start fast.  Every generator is
a function of (seed, index), so the engine side can recompute exactly what
the load side produced without any message passing.

Shapes are ports of the repository's soak tools, not imports of them (the
benchmark must not depend on ``tools/``):

- ``replay_event``: the add-only soak (1..999 quads per event), spread over
  N-Quads, Turtle and TriG, with a seeded share of events that repeat part
  of the previous event's quads so set-semantics dedup does real work.
- ``patch_event``: the deletes-heavy patch soak (even events add n quads plus
  a transient A/D pair, odd events delete half of the previous event), with
  a seeded ~1% of malformed events that must land in the dead-letter table.
"""

from __future__ import annotations

import random

EX = "http://example.org/"
BENCH = "http://bench.example/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

NQ, TTL, TRIG, PATCH = (
    "application/n-quads",
    "text/turtle",
    "application/trig",
    "application/rdf-patch",
)
CT_SHORT = {NQ: "nquads", TTL: "turtle", TRIG: "trig", PATCH: "patch"}


def _rng(seed: int, *salt) -> random.Random:
    return random.Random(f"{seed}|" + "|".join(map(str, salt)))


# ---------------------------------------------------------------- replay
REPLAY_TURTLE_SHARE = 0.10
REPLAY_TRIG_SHARE = 0.10
REPLAY_DUP_SHARE = 0.30  # events that repeat a quarter of the previous event


def replay_shape(seed: int, eid: int) -> tuple[str, int, bool]:
    """(content type, own quad count 1..999, repeats-previous?) of event eid.

    Sizes come in antithetic pairs (n, 1000 - n): each size is uniform on
    1..999 as in the reference soak, while every aligned pair of events
    carries exactly 1000 quads of its own, so a micro-batch of whole pairs
    has the same size whatever the seed."""
    r = _rng(seed, "replay", eid)
    u = r.random()
    ct = TTL if u < REPLAY_TURTLE_SHARE else TRIG if u < REPLAY_TURTLE_SHARE + REPLAY_TRIG_SHARE else NQ
    n = _rng(seed, "size", eid - eid % 2).randint(1, 999)
    if eid % 2:
        n = 1000 - n
    dup = ct != TTL and eid > 0 and r.random() < REPLAY_DUP_SHARE
    if dup and replay_shape(seed, eid - 1)[0] == TTL:
        dup = False
    return ct, n, dup


def _graph(eid: int) -> str:
    return f"{EX}g{eid % 10}"


def _nq_line(eid: int, i: int) -> str:
    return f'<{EX}e{eid}/s{i}> <{EX}p> "v{eid}-{i}" <{_graph(eid)}> .'


def replay_event(seed: int, eid: int) -> tuple[str, bytes]:
    """(content type, payload) of replay event eid."""
    ct, n, dup = replay_shape(seed, eid)
    if ct == TTL:
        lines = [f"@prefix ex: <{EX}> ."]
        # subject blocks with predicate lists: exercises the real Turtle
        # grammar, not the N-Triples subset
        for i in range(0, n, 2):
            if i + 1 < n:
                lines.append(f'ex:t{eid}_s{i} ex:p "v{eid}-{i}" ; ex:q "w{eid}-{i}" .')
            else:
                lines.append(f'ex:t{eid}_s{i} ex:p "v{eid}-{i}" .')
        return ct, ("\n".join(lines) + "\n").encode()
    own = [(eid, i) for i in range(n)]
    prev = []
    if dup:
        _, n_prev, _ = replay_shape(seed, eid - 1)
        prev = [(eid - 1, i) for i in range(max(1, n_prev // 4))]
    if ct == NQ:
        lines = [_nq_line(e, i) for e, i in prev + own]
        return ct, ("\n".join(lines) + "\n").encode()
    # TriG: one block per graph
    blocks = {}
    for e, i in prev + own:
        blocks.setdefault(_graph(e), []).append(f'  <{EX}e{e}/s{i}> <{EX}p> "v{e}-{i}" .')
    text = "".join(f"<{g}> {{\n" + "\n".join(ls) + "\n}\n" for g, ls in blocks.items())
    return ct, text.encode()


def replay_distinct_quads(seed: int, eid: int) -> int:
    """Quads event eid adds that no earlier event added (its own quads)."""
    ct, n, _ = replay_shape(seed, eid)
    return n


def replay_ops(seed: int, eid: int) -> int:
    """Quads in event eid's payload (own + repeated)."""
    ct, n, dup = replay_shape(seed, eid)
    if not dup:
        return n
    return n + max(1, replay_shape(seed, eid - 1)[1] // 4)


# ----------------------------------------------------------------- patch
PATCH_MALFORMED_SHARE = 0.01


def patch_size(seed: int, eid: int) -> int:
    return _rng(seed, "patch", eid).randint(1, 999)


def patch_malformed(seed: int, eid: int) -> bool:
    return _rng(seed, "bad", eid).random() < PATCH_MALFORMED_SHARE


def _pq(eid: int, i: int) -> str:
    return f'<{EX}e{eid}/s{i}> <{EX}p> "v{eid}-{i}" <{_graph(eid)}> .'


def patch_event(seed: int, eid: int) -> bytes:
    """Soak-patch event eid: even adds n quads plus a transient A/D pair
    (nets to nothing); odd deletes the first half of event eid-1's quads
    (within a micro-batch or across a batch boundary, whichever the
    trigger timing gives)."""
    if patch_malformed(seed, eid):
        return f"TX .\nA <{EX}broken/{eid} <{EX}p> \"x\" .\nTC .\n".encode()
    lines = ["TX ."]
    if eid % 2 == 0:
        n = patch_size(seed, eid)
        lines.extend(f"A {_pq(eid, i)}" for i in range(n))
        lines.append(f"A {_pq(eid, n)}")
        lines.append(f"D {_pq(eid, n)}")
    else:
        n_prev = patch_size(seed, eid - 1)
        lines.extend(f"D {_pq(eid - 1, i)}" for i in range(n_prev // 2))
    lines.append("TC .")
    return ("\n".join(lines) + "\n").encode()


def patch_expected(seed: int, n_events: int) -> tuple[int, int, int, int]:
    """(final quad count, malformed events, add ops, delete ops) after
    applying events 0..n_events-1 in order."""
    total = bad = adds = dels = 0
    for eid in range(n_events):
        if patch_malformed(seed, eid):
            bad += 1
            continue
        if eid % 2 == 0:
            n = patch_size(seed, eid)
            adds += n + 1
            dels += 1
            deleted = (
                n // 2
                if eid + 1 < n_events and not patch_malformed(seed, eid + 1)
                else 0
            )
            total += n - deleted
        else:
            dels += patch_size(seed, eid - 1) // 2
    return total, bad, adds, dels


def marker_iri(i: int) -> str:
    return f"{BENCH}marker/{i}"


MARKER_GRAPH = f"{BENCH}markers"


def marker_event(i: int) -> bytes:
    return f'TX .\nA <{marker_iri(i)}> <{BENCH}p/seen> "{i}" <{MARKER_GRAPH}> .\nTC .\n'.encode()


# ------------------------------------------------------------- preload
# Subjects of the preloaded dataset: every subject has type/val/name/link,
# every third one also has opt.  Graph = subject index mod PRE_GRAPHS.
PRE = f"{BENCH}pre/"
PRE_GRAPHS = 10
PRE_CLASSES = 7


def pre_subject(i: int) -> str:
    return f"{PRE}s{i}"


def pre_graph(j: int) -> str:
    return f"{PRE}g{j}"


def pre_val(i: int) -> int:
    return (i * 37) % 1000


def pre_quads(n_subjects: int):
    """Yield QUAD_COLS tuples of the preload; used for the small preload
    and, in closed form, to answer every read query."""
    for i in range(n_subjects):
        g, s = pre_graph(i % PRE_GRAPHS), pre_subject(i)
        yield (g, s, f"{PRE}type", "iri", f"{PRE}C{i % PRE_CLASSES}", None, None)
        yield (g, s, f"{PRE}val", "literal", str(pre_val(i)), XSD_INT, None)
        yield (g, s, f"{PRE}name", "literal", f"name{i}", None, None)
        yield (g, s, f"{PRE}link", "iri", pre_subject((i * 13 + 1) % n_subjects), None, None)
        if i % 3 == 0:
            yield (g, s, f"{PRE}opt", "literal", f"opt{i}", None, None)


def pre_count(n_subjects: int) -> int:
    return 4 * n_subjects + (n_subjects + 2) // 3


def pre_graph_count(n_subjects: int, j: int) -> int:
    return sum(4 + (i % 3 == 0) for i in range(j, n_subjects, PRE_GRAPHS))


# ------------------------------------------------------- read queries
def q_point(i: int) -> str:
    return f"SELECT ?p ?o WHERE {{ GRAPH ?g {{ <{pre_subject(i)}> ?p ?o }} }}"


def a_point(n_subjects: int, i: int) -> set:
    out = {(f"{PRE}type", f"{PRE}C{i % PRE_CLASSES}"), (f"{PRE}val", str(pre_val(i))),
           (f"{PRE}name", f"name{i}"),
           (f"{PRE}link", pre_subject((i * 13 + 1) % n_subjects))}
    if i % 3 == 0:
        out.add((f"{PRE}opt", f"opt{i}"))
    return out


def q_count(j: int) -> str:
    return f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH <{pre_graph(j)}> {{ ?s ?p ?o }} }}"


def q_bgp(j: int, c: int, t: int) -> str:
    return (
        f"SELECT ?s ?v ?o WHERE {{ GRAPH <{pre_graph(j)}> {{ "
        f"?s <{PRE}type> <{PRE}C{c}> . ?s <{PRE}val> ?v . FILTER(?v < {t}) "
        f"OPTIONAL {{ ?s <{PRE}opt> ?o }} }} }}"
    )


def a_bgp(n_subjects: int, j: int, c: int, t: int) -> set:
    return {
        (pre_subject(i), str(pre_val(i)), f"opt{i}" if i % 3 == 0 else None)
        for i in range(j, n_subjects, PRE_GRAPHS)
        if i % PRE_CLASSES == c and pre_val(i) < t
    }


def q_group(j: int) -> str:
    return (
        f"SELECT ?c (COUNT(?s) AS ?n) WHERE {{ GRAPH <{pre_graph(j)}> {{ "
        f"?s <{PRE}type> ?c }} }} GROUP BY ?c"
    )


def a_group(n_subjects: int, j: int) -> dict:
    out: dict = {}
    for i in range(j, n_subjects, PRE_GRAPHS):
        c = f"{PRE}C{i % PRE_CLASSES}"
        out[c] = out.get(c, 0) + 1
    return out
