"""Deterministic multi-pass coreference sieve over argument mentions.

The reference consumes CoreNLP coreference chains for its event-coref
``iscoref`` predicate (link_coref.py:311-332) — parser output that is
not shipped upstream.  BASELINE.md's ceiling analysis (round 3/4)
names a *chain-structured* signal as the one remaining input for the
pairwise-precision target: surface containment (AUC 0.546) and
alias-resolution through the canonical dictionary (AUC 0.534, measured
and rejected in r4) both lack the transitive, position-aware structure
real chains carry.

This module rebuilds that input from public knowledge: the multi-pass
deterministic sieve of Lee et al. 2013 ("Deterministic coreference
resolution based on entity-centric, precision-ranked rules", CL 39(4)),
restricted to the argument mentions the pipeline already extracts —
the only spans event coreference ever consults.  Passes, highest
precision first, each merging union-find sets:

1. exact   — identical normalized surface (lowercased, possessive and
             leading determiner stripped);
2. acronym — single-token ALL-CAPS mention vs the initials of a
             multi-word mention of the same argument type;
3. head    — same final head token AND same argument type
             ("the data" ~ "sensitive data", "Flash Player" ~
             "Adobe Flash Player");
4. contain — one normalized surface contains the other (>= 3 chars,
             same argument type) — the r3 `_is_coref` signal, now
             feeding transitive chains instead of isolated pairs;
5. pronoun — a pronoun mention attaches to the NEAREST PRECEDING
             non-pronoun mention of a compatible type within
             PRONOUN_WINDOW sentences (he/she -> Person only,
             it/its -> never Person, plural pronouns -> any type);
             the corpus is pronoun-heavy ("they" 256x, "it" 169x,
             "he" 101x among 22.7k gold arguments).

Everything is pure Python over ONE document's mentions (tens of rows)
— the Spark stage runs it inside the existing per-doc coref
``applyInPandas`` UDF (operators/coref.py), so chain construction adds
NO shuffle, no join, and no new exchange to the pipeline plan.
"""

from __future__ import annotations

# field / record separators for the packed per-event mention encoding
# (coref.coref_inputs builds it; arg surfaces never contain control
# characters — the tokenizer strips them)
FIELD_SEP = "\x1e"
MENT_SEP = "\x1f"

PRONOUN_WINDOW = 3  # max sentence gap for pronoun attachment

_PERSON_PRONOUNS = frozenset(
    {"he", "him", "his", "she", "her", "hers", "himself", "herself"})
_NONPERSON_PRONOUNS = frozenset({"it", "its", "itself"})
_PLURAL_PRONOUNS = frozenset(
    {"they", "them", "their", "theirs", "themselves", "we", "us", "our",
     "ours", "ourselves"})
PRONOUNS = (_PERSON_PRONOUNS | _NONPERSON_PRONOUNS | _PLURAL_PRONOUNS
            | frozenset({"i", "me", "my", "you", "your", "yours", "who",
                         "which", "this", "that", "these", "those"}))

_DETERMINERS = ("the ", "a ", "an ", "this ", "that ", "these ", "those ")


def normalize(text: str) -> str:
    """Lowercase, squeeze whitespace, strip trailing possessive."""
    t = " ".join((text or "").lower().split())
    if t.endswith("'s"):
        t = t[:-2].rstrip()
    elif t.endswith("'"):
        t = t[:-1].rstrip()
    return t


def strip_det(norm: str) -> str:
    for d in _DETERMINERS:
        if norm.startswith(d):
            return norm[len(d):]
    return norm


def head_token(norm_nodet: str) -> str:
    """Final alphanumeric-trimmed token — the NP head for the
    right-headed English noun phrases argument mentions are."""
    parts = norm_nodet.split()
    if not parts:
        return ""
    return parts[-1].strip(".,;:!?\"'()[]")


def _initials(text: str) -> str:
    """Initials of the capitalized words of the ORIGINAL surface
    ('Federal Bureau of Investigation' -> 'fbi' — lowercase 'of' is
    skipped, matching how English acronyms are formed)."""
    return "".join(w[0].lower() for w in (text or "").split()
                   if w[:1].isupper())


class _UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, i: int) -> int:
        while self.parent[i] != i:
            self.parent[i] = self.parent[self.parent[i]]
            i = self.parent[i]
        return i

    def union(self, i: int, j: int) -> None:
        ri, rj = self.find(i), self.find(j)
        if ri != rj:
            # deterministic: smaller root (earliest mention) wins
            if ri > rj:
                ri, rj = rj, ri
            self.parent[rj] = ri


def sieve_chains(mentions: list[tuple[int, int, str, str]]) -> list[int]:
    """mentions: (sent_id, begin, text, arg_type) — NOT required to be
    sorted; reading order is established internally.  Returns one chain
    id per input mention (chain id = index of the chain's earliest
    mention in reading order — deterministic for any input order)."""
    n = len(mentions)
    if n == 0:
        return []
    # reading order: by (sent, begin, text) — ties broken textually so
    # duplicate offsets (shouldn't occur) stay deterministic
    order = sorted(range(n),
                   key=lambda i: (mentions[i][0], mentions[i][1],
                                  mentions[i][2], mentions[i][3]))
    sent = [int(mentions[i][0]) for i in order]
    raw = [str(mentions[i][2] or "") for i in order]
    typ = [str(mentions[i][3] or "") for i in order]
    norm = [normalize(t) for t in raw]
    nodet = [strip_det(t) for t in norm]
    is_pron = [nodet[i] in PRONOUNS or norm[i] in PRONOUNS
               for i in range(n)]
    uf = _UnionFind(n)

    # pass 1: exact normalized surface (determiner-stripped), skipping
    # pronouns and empty/degenerate surfaces
    by_surface: dict[str, int] = {}
    for i in range(n):
        if is_pron[i] or len(nodet[i]) < 2:
            continue
        first = by_surface.setdefault(nodet[i], i)
        if first != i:
            uf.union(first, i)

    # pass 2: acronym — ALL-CAPS single token vs same-type multi-word
    # initials
    acro: dict[tuple[str, str], int] = {}
    for i in range(n):
        if is_pron[i] or " " not in raw[i].strip():
            continue
        ini = _initials(raw[i])
        if len(ini) >= 2:
            acro.setdefault((ini, typ[i]), i)
    for i in range(n):
        t = raw[i].strip()
        if (not is_pron[i] and " " not in t and t.isupper()
                and 2 <= len(t) <= 6):
            j = acro.get((t.lower(), typ[i]))
            if j is not None and j != i:
                uf.union(i, j)

    # pass 3: head-token match within the same argument type
    by_head: dict[tuple[str, str], int] = {}
    for i in range(n):
        if is_pron[i]:
            continue
        h = head_token(nodet[i])
        if len(h) < 2 or h in PRONOUNS:
            continue
        first = by_head.setdefault((h, typ[i]), i)
        if first != i:
            uf.union(first, i)

    # pass 4: containment within the same type (the old _is_coref
    # predicate, transitive through the union-find)
    surfs = sorted({(nodet[i], typ[i], i) for i in range(n)
                    if not is_pron[i] and len(nodet[i]) >= 3})
    for a in range(len(surfs)):
        sa, ta, ia = surfs[a]
        for b in range(a + 1, len(surfs)):
            sb, tb, ib = surfs[b]
            if ta == tb and (sa in sb or sb in sa):
                uf.union(ia, ib)

    # pass 5: pronoun to nearest preceding compatible non-pronoun
    for i in range(n):
        if not is_pron[i]:
            continue
        p = nodet[i] if nodet[i] in PRONOUNS else norm[i]
        best = -1
        for j in range(i - 1, -1, -1):
            if sent[i] - sent[j] > PRONOUN_WINDOW:
                break
            if is_pron[j]:
                continue
            if p in _PERSON_PRONOUNS and typ[j] != "Person":
                continue
            if p in _NONPERSON_PRONOUNS and typ[j] == "Person":
                continue
            if p not in _PERSON_PRONOUNS and p not in _NONPERSON_PRONOUNS \
                    and typ[j] != typ[i]:
                # plural / generic pronouns: same predicted type only
                continue
            best = j
            break
        if best >= 0:
            uf.union(best, i)

    # chain id = earliest member's reading-order rank, mapped back to
    # the caller's input order
    roots = [uf.find(i) for i in range(n)]
    out = [0] * n
    for rank, i in enumerate(order):
        out[i] = roots[rank]
    return out


def parse_mentions(packed: str) -> list[tuple[int, int, str, str]]:
    """Packed per-event mention string -> mention tuples."""
    if not packed:
        return []
    out = []
    for item in packed.split(MENT_SEP):
        parts = item.split(FIELD_SEP)
        if len(parts) != 4:
            continue
        try:
            out.append((int(parts[0]), int(parts[1]), parts[2], parts[3]))
        except ValueError:
            continue
    return out


def doc_chain_sets(packed_per_event: list[str]) -> list[list[int]]:
    """The coref-UDF entry point: per-event packed mention strings for
    ONE document -> per-event lists of chain ids (aligned with each
    event's own mention order).  The sieve itself runs over the union
    of all events' mentions, so chains cross event and subtype
    boundaries exactly like the reference's document-level CoreNLP
    chains."""
    per_event = [parse_mentions(p) for p in packed_per_event]
    flat: list[tuple[int, int, str, str]] = []
    spans: list[tuple[int, int]] = []
    for ms in per_event:
        spans.append((len(flat), len(flat) + len(ms)))
        flat.extend(ms)
    chains = sieve_chains(flat)
    return [chains[a:b] for a, b in spans]
