"""Seeded IMGT/HLA release generator.

Produces a stream of consecutive releases as EMBL flat files
(``hla.<release>.dat``, the format `sources.imgt.read_imgt_dat` scans)
together with the ground truth the oracle replays. The same seed gives
byte-identical files.

What varies, and why:

- locus mix: alleles are drawn over the 11 HLA loci with fixed
  weights, so the accession registry holds 11 loci x (term, rank)
  contexts of very different sizes;
- record shape: full genomic records (5'UTR, exons and introns, 3'UTR;
  17 features for class I) against exon-only partial records;
- vocabulary: every (locus, term, rank) context has its own pool of
  feature sequences, drawn Zipf-skewed, with a per-context chance of a
  brand-new sequence, so both shared and new accessions occur;
- overlap: each release restates every allele of the previous one and
  adds ``GROWTH`` new alleles on top;
- the error channel: a small share of skip-list, short (<= 5 bp),
  no-CDS and malformed-location records.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

# (locus, draw weight, exon count) over the 11 HLA loci of `plans.build`;
# class I loci have 8 exons (17 features), class II fewer.
LOCI: tuple[tuple[str, float, int], ...] = (
    ("HLA-A", 0.20, 8),
    ("HLA-B", 0.24, 8),
    ("HLA-C", 0.18, 8),
    ("HLA-DRB1", 0.11, 6),
    ("HLA-DQB1", 0.06, 6),
    ("HLA-DPB1", 0.06, 5),
    ("HLA-DQA1", 0.03, 4),
    ("HLA-DPA1", 0.03, 4),
    ("HLA-DRB3", 0.03, 6),
    ("HLA-DRB4", 0.02, 6),
    ("HLA-DRB5", 0.04, 6),
)

# names from the package's skip list (`plans.build.SKIP_ALLELES`); the
# generator hands them out once each
SKIP_NAMES = (
    "HLA-DRB5*01:11", "HLA-DRB5*01:12", "HLA-DRB5*01:13", "HLA-DRB5*02:03",
    "HLA-DRB5*02:04", "HLA-DRB5*02:05", "HLA-DRB5*01:01:02", "HLA-DRB5*01:03",
    "HLA-DRB5*01:05", "HLA-DRB5*01:06", "HLA-DRB5*01:07", "HLA-DRB5*01:09",
    "HLA-DRB5*01:10N", "HLA-C*05:208N", "HLA-C*05:206",
)

# record kinds; the first three are built, the last three only reach
# the error channel or are filtered out
FULL, PARTIAL, NOCDS, SKIP, SHORT, MALFORMED = (
    "full", "partial", "nocds", "skip", "short", "malformed"
)
BUILT_KINDS = (FULL, PARTIAL, NOCDS)


GROWTH = 0.03  # new alleles per release, as a share of the first release
PARTIAL_SHARE = 0.35  # exon-only records among normal ones
SPECIAL_SHARE = 0.02  # skip-list/short/no-CDS/malformed records
VOCAB = 24  # mean pool size per (locus, term, rank) context
NEW_SEQ_P = 0.08  # chance a drawn feature is a new sequence
FIRST_RELEASE = 3400  # numeric release id of the first release


@dataclass
class Allele:
    allele_id: str
    hla_name: str
    locus: str
    kind: str
    # (type, number-or-None, sequence) in genomic order, as written
    feats: list[tuple[str, int | None, str]] = field(default_factory=list)
    translation: str | None = None


@dataclass
class Release:
    release: str
    alleles: list[Allele]


_ZIPF_CUM: dict[int, list[float]] = {}


def zipf_cum(n: int) -> list[float]:
    """Cumulative Zipf(1) weights over n pool entries (entry i: 1/(i+1))."""
    cum = _ZIPF_CUM.get(n)
    if cum is None:
        total, cum = 0.0, []
        for i in range(n):
            total += 1.0 / (i + 1)
            cum.append(total)
        _ZIPF_CUM[n] = cum
    return cum


def _dna(rng: random.Random, n: int) -> str:
    return "".join(rng.choices("ACGT", k=n))


class _Vocab:
    """Per-context sequence pools with Zipf-skewed draws."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.pools: dict[tuple[str, str, int], list[str]] = {}
        self.seen: set[str] = set()

    def _fresh(self, length: int) -> str:
        while True:
            s = _dna(self.rng, length)
            if s not in self.seen:
                self.seen.add(s)
                return s

    def draw(self, locus: str, term: str, rank: int, length: int) -> str:
        key = (locus, term, rank)
        pool = self.pools.get(key)
        if pool is None:
            size = max(2, int(self.rng.uniform(0.5, 1.5) * VOCAB))
            pool = self.pools[key] = [self._fresh(length) for _ in range(size)]
        if self.rng.random() < NEW_SEQ_P:
            pool.append(self._fresh(length))
            return pool[-1]
        return self.rng.choices(pool, cum_weights=zipf_cum(len(pool)), k=1)[0]


def _feature_lengths(rng: random.Random, n_exons: int) -> dict[tuple[str, int], int]:
    lengths = {("utr5", 1): rng.randint(60, 200), ("utr3", 1): rng.randint(60, 200)}
    for r in range(1, n_exons + 1):
        lengths[("exon", r)] = rng.randint(60, 280)
        if r < n_exons:
            lengths[("intron", r)] = rng.randint(80, 400)
    return lengths


class _Generator:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = _Vocab(self.rng)
        self.next_id = 1
        self.per_locus = {locus: 0 for locus, _w, _e in LOCI}
        self.skip_left = list(SKIP_NAMES)
        # one fixed feature-length profile per locus
        self.lengths = {locus: _feature_lengths(self.rng, n) for locus, _w, n in LOCI}
        self.exons = {locus: n for locus, _w, n in LOCI}

    def _name(self, locus: str) -> str:
        i = self.per_locus[locus]
        self.per_locus[locus] = i + 1
        # 3-digit first field: never collides with the skip list's names
        return f"{locus}*{101 + i // 900}:{i % 900 + 1:03d}"

    def _allele_id(self) -> str:
        aid = f"HLA{self.next_id:05d}"
        self.next_id += 1
        return aid

    def _features(self, locus: str, partial: bool) -> list[tuple[str, int | None, str]]:
        n = self.exons[locus]
        ln = self.lengths[locus]
        if partial:
            # exon-only record: exons 2-3 (class I) / exon 2 (class II)
            ranks = [2, 3] if n == 8 else [2]
            return [("exon", r, self.vocab.draw(locus, "EXON", r, ln[("exon", r)])) for r in ranks]
        feats: list[tuple[str, int | None, str]] = [
            ("UTR", None, self.vocab.draw(locus, "FIVE_PRIME_UTR", 1, ln[("utr5", 1)]))
        ]
        for r in range(1, n + 1):
            feats.append(("exon", r, self.vocab.draw(locus, "EXON", r, ln[("exon", r)])))
            if r < n:
                feats.append(
                    ("intron", r, self.vocab.draw(locus, "INTRON", r, ln[("intron", r)]))
                )
        feats.append(("UTR", None, self.vocab.draw(locus, "THREE_PRIME_UTR", 1, ln[("utr3", 1)])))
        return feats

    def _translation(self) -> str:
        return "M" + "".join(self.rng.choices("ACDEFGHIKLMNPQRSTVWY", k=self.rng.randint(20, 60)))

    def allele(self) -> Allele:
        rng = self.rng
        loci = [locus for locus, _w, _e in LOCI]
        weights = [w for _l, w, _e in LOCI]
        locus = rng.choices(loci, weights=weights, k=1)[0]
        kind = FULL
        if rng.random() < SPECIAL_SHARE:
            kind = rng.choice([SKIP, SHORT, NOCDS, MALFORMED])
            if kind == SKIP and not self.skip_left:
                kind = NOCDS
        elif rng.random() < PARTIAL_SHARE:
            kind = PARTIAL
        aid = self._allele_id()
        if kind == SKIP:
            name = self.skip_left.pop(0)
            locus = name.split("*")[0]
            return Allele(aid, name, locus, kind, self._features(locus, False), self._translation())
        name = self._name(locus)
        if kind == SHORT:
            return Allele(aid, name, locus, kind, [("exon", 1, "ACG")], None)
        feats = self._features(locus, kind == PARTIAL)
        translation = None if kind == NOCDS else self._translation()
        return Allele(aid, name, locus, kind, feats, translation)


def generate(seed: int, base_alleles: int, releases: int = 2) -> list[Release]:
    """The release stream for `seed`: `base_alleles` alleles in the first
    release; release i restates release i-1's alleles and adds
    ``round(base_alleles * GROWTH)`` new ones."""
    g = _Generator(seed)
    alleles = [g.allele() for _ in range(base_alleles)]
    add = max(1, round(base_alleles * GROWTH))
    out = []
    for i in range(releases):
        if i:
            alleles = alleles + [g.allele() for _ in range(add)]
        out.append(Release(str(FIRST_RELEASE + 10 * i), list(alleles)))
    return out


def embl_text(a: Allele) -> str:
    """One EMBL record in the envelope of `testing_fixtures.embl_record`;
    malformed records get a partial-span location the parser rejects."""
    from gfe_db_spark.testing_fixtures import embl_record

    text = embl_record(a.allele_id, a.hla_name, a.feats, translation=a.translation)
    if a.kind == MALFORMED:
        # first exon line: "FT   exon            a..b" -> "<a..b"
        lines = text.split("\n")
        for i, line in enumerate(lines):
            if line.startswith("FT   exon"):
                head, loc = line[:21], line[21:]
                lines[i] = head + "<" + loc
                break
        text = "\n".join(lines)
    return text


def write_releases(rels: list[Release], data_dir: str) -> dict[str, str]:
    """Write ``hla.<release>.dat`` per release; returns release -> path.
    A restated allele is rendered once."""
    os.makedirs(data_dir, exist_ok=True)
    texts: dict[str, str] = {}
    paths = {}
    for rel in rels:
        path = paths[rel.release] = os.path.join(data_dir, f"hla.{rel.release}.dat")
        with open(path, "w") as fh:
            for a in rel.alleles:
                text = texts.get(a.allele_id)
                if text is None:
                    text = texts[a.allele_id] = embl_text(a) + "\n//\n"
                fh.write(text)
    return paths
