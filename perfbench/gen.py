"""Seeded generator of the benchmark's documents table and its planted truth.

The table has the ``documents`` contract the pipeline reads
(``url, warc_ts, html, text, lang``) and is written as parquet with
pyarrow, so generation needs no Spark session.  The generator owns its
templates and vocabulary: it imports nothing from ``casie_spark``, so an
edit to the program cannot change the workload it is measured on.

Every page is a title/source/date header followed by ``<text>`` and a
body of sentences.  Event sentences come from templates that plant one
CASIE event subtype and a set of argument surfaces (CVE id, vendor,
product, version, money); the planted truth records both per url.
"""

from __future__ import annotations

import json
import random
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Shape:
    """Input properties a workload fixes; the seed draws everything else."""

    pages: int
    min_sentences: int        # page length, uniform in [min, max]
    max_sentences: int
    event_density: float      # share of body sentences that plant an event
    lexicon_share: float      # share of product names and filler sentences from the lexicon
    lexicon_size: int         # seeded pseudo-word lexicon (shared vocabulary)
    domains: int
    zipf_s: float             # domain popularity ~ 1 / rank**s
    non_en_share: float       # pages tagged lang != "en" (the pipeline drops them)
    duplicate_share: float    # re-crawled rows repeating an earlier url and page


# (template, subtype); slots: vendor, product, cve, ver, money, num, org
_TEMPLATES = [
    ("Hackers stole {num} customer records from the servers of {vendor}.", "Databreach"),
    ("An unauthorized intruder copied sensitive files belonging to {org}.", "Databreach"),
    ("The breach at {vendor} compromised the passwords of {num} users.", "Databreach"),
    ("Researchers discovered a critical flaw in {product} tracked as {cve}.", "DiscoverVulnerability"),
    ("A researcher at {org} disclosed the bug {cve} in {product}.", "DiscoverVulnerability"),
    ("{vendor} released an update that fixes {cve} in {product} version {ver}.", "PatchVulnerability"),
    ("{vendor} fixed the vulnerability {cve} in {product} {ver} this week.", "PatchVulnerability"),
    ("The attackers demanded a ransom of {money} in bitcoin to unlock the files.", "Ransom"),
    ("Criminals used ransomware to extort {money} from {org}.", "Ransom"),
    ("A phishing campaign impersonated {vendor} to trick users into entering credentials.", "Phishing"),
    ("The spear phishing emails lure victims with fake invoices from {vendor}.", "Phishing"),
]
_FILLER = [
    "The company said it is looking into the matter.",
    "Users are advised to keep their software current.",
    "No further details were given at this time.",
    "The statement was posted on its blog.",
    "Officials declined to comment on the case.",
    "Analysts expect more news in the coming days.",
]
_VENDORS = ["Adobe", "Microsoft", "Cisco", "Oracle", "Siemens", "Apple",
            "Google", "Mozilla", "Intel", "Samsung"]
_PRODUCTS = ["Flash Player", "Windows 10", "IOS XE", "WebLogic Server",
             "SIMATIC firmware", "Safari", "Chrome", "Firefox", "Android",
             "Linux"]
_PRODUCT_KINDS = ["Server", "Firmware", "Database", "Network"]
_ORG_KINDS = ["Systems", "Labs", "Health", "Bank", "Networks", "Group"]
_ONSETS = ["b", "br", "c", "d", "dr", "f", "g", "gl", "h", "j", "k", "l", "m",
           "n", "p", "pr", "qu", "r", "s", "sh", "st", "t", "tr", "v", "w", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "y"]
_CODAS = ["", "", "", "n", "r", "s", "x", "l", "m", "nd", "rk", "st"]

# argument kinds whose planted surface must come back as an ``obj``
_ARG_KINDS = ("cve", "vendor", "product", "ver", "money")


def _lexicon(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
                          for _ in range(rng.randint(2, 3))))
    return sorted(words)


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (r + 1) ** s for r in range(n)]
    total, acc, cdf = sum(w), 0.0, []
    for x in w:
        acc += x / total
        cdf.append(acc)
    return cdf


def generate(shape: Shape, seed: int) -> tuple[pa.Table, dict]:
    """Return (documents table, planted truth keyed by url)."""
    rng = random.Random(seed)
    lex = _lexicon(rng, shape.lexicon_size)
    cdf = _zipf_cdf(shape.domains, shape.zipf_s)

    def lex_word() -> str:
        return rng.choice(lex)

    def product() -> str:
        if rng.random() < shape.lexicon_share:
            return f"{lex_word().title()} {rng.choice(_PRODUCT_KINDS)}"
        return rng.choice(_PRODUCTS)

    def sentence(truth: dict) -> str:
        if rng.random() >= shape.event_density:
            if rng.random() < shape.lexicon_share:
                words = " ".join(lex_word() for _ in range(rng.randint(5, 12)))
                return f"The {words} team met on Tuesday."
            return rng.choice(_FILLER)
        tmpl, subtype = rng.choice(_TEMPLATES)
        slots = {
            "vendor": rng.choice(_VENDORS),
            "product": product(),
            "cve": f"CVE-{rng.randint(2012, 2024)}-{rng.randint(1000, 99999)}",
            "ver": f"{rng.randint(1, 19)}.{rng.randint(0, 9)}.{rng.randint(0, 40)}",
            "money": f"${rng.randint(2, 900) * 1000}",
            "num": f"{rng.randint(2, 900)} million",
            "org": f"{lex_word().title()} {rng.choice(_ORG_KINDS)}",
        }
        truth["subtypes"].add(subtype)
        for kind in _ARG_KINDS:
            if "{" + kind + "}" in tmpl:
                truth["args"].add((kind, slots[kind]))
        return tmpl.format(**slots)

    rows: list[tuple] = []
    truth: dict[str, dict] = {}
    for i in range(shape.pages):
        if rows and rng.random() < shape.duplicate_share:
            rows.append(rows[rng.randrange(len(rows))])
            continue
        u = rng.random()
        dom = next((j for j, c in enumerate(cdf) if u <= c), shape.domains - 1)
        url = f"https://news-{dom}.example/{seed}/{i}"
        lang = "de" if rng.random() < shape.non_en_share else "en"
        t = {"subtypes": set(), "args": set()}
        body = "\n".join(
            sentence(t)
            for _ in range(rng.randint(shape.min_sentences, shape.max_sentences)))
        title = body.split("\n", 1)[0].rstrip(".")[:80]
        date = f"{2015 + i % 10}_{1 + i % 12:02d}_{1 + i % 28:02d}"
        header = (f"<title>{title}</title>\n<source> {url} </source>\n"
                  f"<date> {date} </date>\n<text>\n")
        ts = 1_704_067_200_000_000 + rng.randrange(86_400) * 1_000_000
        rows.append((url, ts, (header + body).encode("utf-8"), body, lang))
        if lang == "en":
            truth[url] = t
    table = pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[2] for r in rows], pa.binary()),
        "text": pa.array([r[3] for r in rows], pa.string()),
        "lang": pa.array([r[4] for r in rows], pa.string()),
    })
    return table, truth


def write(shape: Shape, seed: int, docs_path: str, truth_path: str) -> tuple[dict, int]:
    """Write the documents parquet and the truth sidecar.  Return the truth
    and the number of English rows that repeat an earlier url."""
    table, truth = generate(shape, seed)
    pq.write_table(table, docs_path)
    duplicates = table.column("lang").to_pylist().count("en") - len(truth)
    with open(truth_path, "w", encoding="utf-8") as f:
        json.dump({
            "seed": seed,
            "shape": asdict(shape),
            "rows": table.num_rows,
            "distinct_urls": len(set(table.column("url").to_pylist())),
            "en_duplicate_rows": duplicates,
            "docs": {u: {"subtypes": sorted(t["subtypes"]),
                         "args": sorted(map(list, t["args"]))}
                     for u, t in truth.items()},
        }, f, sort_keys=True)
    return truth, duplicates
