"""Seeded raw inputs for the ``clinical_project`` workload, and the
reference answers the benchmark checks assay results against.

:func:`generate` writes a multi-cohort project's raw files (RSEM gene and
isoform tables, STAR ``SJ.out.tab`` files, VEP-annotated VCFs and the
sample-metadata TSVs) following the FIXTURES.md section B hints:

- junctions are drawn from a shared pool, so far more than 10% of them
  are carried by two or more samples;
- a quarter of the pool is a near-copy of another pool junction, so
  some junction pairs overlap partially on the same chrom and strand;
- every variant carries 1 to 5 CSQ consequences.

The same seed gives byte-identical files. :class:`Reference` parses the
files back (it never sees the generator's internal state) and computes
what each assay call must return.
"""

from __future__ import annotations

import functools
import os
import random

COHORTS = ("A", "B", "C")
CHROMS = ("chr1", "chr2", "chr3", "chr4", "chr5")

# Sizes. The reference is a 24-sample project of 44 MB of raw files whose
# junction master held 60,000 rows: 1.83 MB of raw files per sample. Each
# sample keeps that size, split in equal thirds between expression,
# junction and variant files; the row counts below follow from the
# generator's mean line lengths (about 100 B per gene row, 60 B per
# isoform row, 34 B per SJ.out.tab row and 315 B per VCF record with its 1-5
# consequences). Only the sample count is scaled down, to fit the run
# budget: see N_SAMPLES.
REF_BYTES_PER_SAMPLE = 44_000_000 // 24
#: FIXTURES.md section B asks for 20 samples; at 1.83 MB a sample, 20 do
#: not fit one run's budget next to the lookups, so the project is cut to
#: one sample per cohort plus one appended sample.
N_SAMPLES = 4
#: Samples loaded by the incremental ``create_project`` after the first build.
HELD_BACK = 1
#: Transcripts per gene of GENCODE human release 44 (252,835 / 62,700).
ISOFORMS_PER_GENE = 4
#: A third of a sample's bytes in RSEM tables: 611 kB / (100 + 4 * 60) B.
N_GENES = 1_800
#: The reference project's junction master: every junction any sample carries.
JUNCTION_POOL = 60_000
#: A third of a sample's bytes in SJ.out.tab: 611 kB / 34 B per row.
JUNCTIONS_PER_SAMPLE = 18_000
#: A third of a sample's bytes in the VCF: 611 kB / 315 B per record.
VARIANTS_PER_SAMPLE = 2_000
#: Each sample carries the same share of the variant pool (3/10) as of
#: the junction pool (18,000 / 60,000).
VARIANT_POOL = VARIANTS_PER_SAMPLE * JUNCTION_POOL // JUNCTIONS_PER_SAMPLE
#: QC gate of the filtered junction tables (``rna.min_unique_reads``).
MIN_UNIQUE_READS = 3

CSQ_FIELDS = ("Consequence", "IMPACT", "SYMBOL", "Gene", "Feature", "BIOTYPE", "CANONICAL", "AF")
_CONSEQUENCES = (
    ("missense_variant", "MODERATE"), ("synonymous_variant", "LOW"),
    ("stop_gained", "HIGH"), ("frameshift_variant", "HIGH"),
    ("intron_variant", "MODIFIER"), ("splice_region_variant", "LOW"),
    ("downstream_gene_variant", "MODIFIER"), ("inframe_deletion", "MODERATE"),
)
_BIOTYPES = ("protein_coding", "lncRNA", "processed_pseudogene")
_RSEM_GENES_HEADER = "gene_id\ttranscript_id(s)\tlength\teffective_length\texpected_count\tTPM\tFPKM\n"
_RSEM_ISO_HEADER = "transcript_id\tgene_id\tlength\teffective_length\texpected_count\tTPM\tFPKM\tIsoPct\n"


def sample_names() -> list[str]:
    return [f"S{i + 1:02d}" for i in range(N_SAMPLES)]


def cohort_of(sample: str) -> str:
    return COHORTS[(int(sample[1:]) - 1) % len(COHORTS)]


def _write(path: str, text: str) -> None:
    with open(path, "w", newline="\n") as fh:
        fh.write(text)


def _junction_pool(rng: random.Random) -> list[tuple]:
    """(chrom, start, end, strand_code): 3/4 independent junctions, 1/4
    near-copies of an earlier one (start and end shifted by up to 4% of
    its length, so the pair overlaps partially)."""
    pool: list[tuple] = []
    seen = set()
    while len(pool) < JUNCTION_POOL:
        if pool and rng.random() < 0.25:
            chrom, s, e, code = rng.choice(pool)
            span = e - s
            s += rng.randint(-span // 25, span // 25)
            e += rng.randint(-span // 25, span // 25)
        else:
            chrom = rng.choice(CHROMS)
            s = rng.randint(10_000, 4_000_000)
            e = s + rng.randint(200, 20_000)
            code = rng.choice((1, 1, 2, 2, 2, 0))
        key = (chrom, s, e, code)
        if e > s and (chrom, s, e) not in seen:
            seen.add((chrom, s, e))
            pool.append(key)
    return pool


def _variant_pool(rng: random.Random, genes: list[tuple]) -> list[tuple]:
    """(chrom, pos, rsid, ref, alt, [csq entry, ...]) with 1-5 distinct
    consequences per variant."""
    pool, seen = [], set()
    while len(pool) < VARIANT_POOL:
        chrom = rng.choice(CHROMS)
        pos = rng.randint(10_000, 4_000_000)
        ref = rng.choice("ACGT")
        alt = rng.choice([b for b in "ACGT" if b != ref])
        if (chrom, pos, ref, alt) in seen:
            continue
        seen.add((chrom, pos, ref, alt))
        rsid = f"rs{rng.randint(1, 99_999_999)}" if rng.random() < 0.6 else "."
        entries = []
        for k in range(rng.randint(1, 5)):
            gene_id, symbol = rng.choice(genes)
            consequence, impact = rng.choice(_CONSEQUENCES)
            entries.append("|".join((
                consequence, impact, symbol, gene_id, f"ENST{pos:09d}{k}",
                rng.choice(_BIOTYPES), rng.choice(("YES", "")),
                f"{rng.random() * 0.5:.4f}" if rng.random() < 0.7 else "",
            )))
        pool.append((chrom, pos, rsid, ref, alt, entries))
    return pool


def _vcf_header() -> str:
    return (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations '
        f'from Ensembl VEP. Format: {"|".join(CSQ_FIELDS)}">\n'
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n'
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">\n'
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSAMPLE\n"
    )


def generate(out_dir: str, seed: int) -> dict:
    """Write the raw files under ``out_dir`` and return the two
    ``create_project`` configs (``initial`` and ``append``) plus the raw
    byte count each one ingests."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    genes = [(f"ENSG{i + 1:08d}", f"GENE{i + 1}") for i in range(N_GENES)]
    junctions = _junction_pool(rng)
    variants = _variant_pool(rng, genes)
    names = sample_names()
    initial, held = names[:-HELD_BACK], names[-HELD_BACK:]

    files: dict[str, dict[str, str]] = {}
    for s in names:
        base = os.path.join(out_dir, s)
        gene_lines, iso_lines = [], []
        for gene_id, _ in genes:
            tx = [f"{gene_id.replace('ENSG', 'ENST')}.{k}" for k in range(ISOFORMS_PER_GENE)]
            count = rng.lognormvariate(4.0, 1.5)
            tpm = count * rng.uniform(0.05, 0.2)
            gene_lines.append(
                f"{gene_id}\t{','.join(tx)}\t{rng.randint(500, 9000)}\t{rng.randint(300, 8800)}\t"
                f"{count:.2f}\t{tpm:.2f}\t{tpm * 0.8:.2f}\n")
            for t in tx:
                share = rng.uniform(0.0, 1.0)
                iso_lines.append(
                    f"{t}\t{gene_id}\t{rng.randint(300, 6000)}\t{rng.randint(200, 5800)}\t"
                    f"{count * share:.2f}\t{tpm * share:.2f}\t{tpm * share * 0.8:.2f}\t"
                    f"{share * 100:.2f}\n")
        _write(base + ".genes.results", _RSEM_GENES_HEADER + "".join(gene_lines))
        _write(base + ".isoforms.results", _RSEM_ISO_HEADER + "".join(iso_lines))

        carried = sorted(rng.sample(junctions, JUNCTIONS_PER_SAMPLE))
        _write(base + ".SJ.out.tab", "".join(
            f"{c}\t{st}\t{en}\t{code}\t{rng.randint(0, 6)}\t{rng.randint(0, 1)}\t"
            f"{rng.randint(0, 40)}\t{rng.randint(0, 5)}\t{rng.randint(10, 50)}\n"
            for c, st, en, code in carried))

        lines = []
        for chrom, pos, rsid, ref, alt, entries in sorted(rng.sample(variants, VARIANTS_PER_SAMPLE)):
            gt = rng.choice(("0/1", "0/1", "1/1", "0|1"))
            dp = rng.randint(8, 120)
            alt_depth = dp if gt == "1/1" else rng.randint(1, dp - 1)
            filt = "PASS" if rng.random() < 0.85 else "q10"
            lines.append(
                f"{chrom}\t{pos}\t{rsid}\t{ref}\t{alt}\t{rng.uniform(5, 250):.1f}\t{filt}\t"
                f"CSQ={','.join(entries)}\tGT:DP:AD\t{gt}:{dp}:{dp - alt_depth},{alt_depth}\n")
        _write(base + ".vcf", _vcf_header() + "".join(lines))
        files[s] = {k: base + ext for k, ext in (
            ("genes", ".genes.results"), ("isoforms", ".isoforms.results"),
            ("sj", ".SJ.out.tab"), ("vcf", ".vcf"))}

    def meta(path: str, members: list[str]) -> str:
        _write(path, "Sample_ID\tCohort\ttissue\tsex\tage\n" + "".join(
            f"{s}\t{cohort_of(s)}\t{rng.choice(('blood', 'brain', 'liver'))}\t"
            f"{rng.choice(('F', 'M'))}\t{rng.randint(18, 90)}\n" for s in members))
        return path

    def config(members: list[str], samples_tsv: str, incremental: bool) -> dict:
        return {
            "samples": samples_tsv,
            "incremental": incremental,
            "rna": {
                "expression": [(s, files[s]["genes"], files[s]["isoforms"]) for s in members],
                "junctions": [(s, files[s]["sj"]) for s in members],
                "min_unique_reads": MIN_UNIQUE_READS,
            },
            "snps": {"variants": [(s, files[s]["vcf"]) for s in members]},
        }

    def raw_bytes(cfg: dict) -> int:
        paths = [cfg["samples"]] + [p for _, g, i in cfg["rna"]["expression"] for p in (g, i)]
        paths += [p for _, p in cfg["rna"]["junctions"]] + [p for _, p in cfg["snps"]["variants"]]
        return sum(os.path.getsize(p) for p in paths)

    init_cfg = config(initial, meta(os.path.join(out_dir, "samples_initial.tsv"), initial), False)
    app_cfg = config(held, meta(os.path.join(out_dir, "samples_append.tsv"), held), True)
    return {
        "initial": init_cfg, "append": app_cfg,
        "initial_bytes": raw_bytes(init_cfg), "append_bytes": raw_bytes(app_cfg),
    }


# -- reference answers ------------------------------------------------------


def _strand(code: str) -> str:
    return {"1": "+", "2": "-", "0": "."}[code]


def _null(v: str):
    return None if v == "" else v


class Reference:
    """Every assay answer recomputed in plain Python from the raw files
    that both ``create_project`` configs list. Rows come back as tuples
    in the column order the matching ``columns`` entry gives."""

    def __init__(self, configs: list[dict]):
        self.samples: dict[str, dict] = {}
        self.genes: dict[tuple, tuple] = {}
        self.sj: list[tuple] = []
        self.vcf: list[tuple] = []
        for cfg in configs:
            with open(cfg["samples"]) as fh:
                header = fh.readline().rstrip("\n").lower().split("\t")
                for line in fh:
                    row = dict(zip(header, line.rstrip("\n").split("\t")))
                    self.samples[row["sample_id"]] = row
            for s, gpath, _ in cfg["rna"]["expression"]:
                with open(gpath) as fh:
                    fh.readline()
                    for line in fh:
                        f = line.rstrip("\n").split("\t")
                        self.genes[(s, f[0])] = (float(f[4]), float(f[5]), float(f[6]))
            for s, path in cfg["rna"]["junctions"]:
                with open(path) as fh:
                    for line in fh:
                        f = line.rstrip("\n").split("\t")
                        self.sj.append((s, f[0], int(f[1]), int(f[2]), _strand(f[3]),
                                        int(f[6]), int(f[7])))
            for s, path in cfg["snps"]["variants"]:
                with open(path) as fh:
                    for line in fh:
                        if line.startswith("#"):
                            continue
                        f = line.rstrip("\n").split("\t")
                        gt, dp, ad = f[9].split(":")
                        csq = f[7].removeprefix("CSQ=").split(",")
                        self.vcf.append((s, f[0], int(f[1]), None if f[2] == "." else f[2],
                                         f[3], f[4], float(f[5]), f[6],
                                         "(" + ", ".join(gt.replace("|", "/").split("/")) + ")",
                                         dp, ad, csq))

    def cohort_samples(self, cohort: str) -> set[str]:
        return {s for s, row in self.samples.items() if row["cohort"] == cohort}

    @functools.cached_property
    def filtered_sj(self) -> list[tuple]:
        return [r for r in self.sj if r[5] >= MIN_UNIQUE_READS and r[4] != "."]

    # Each method mirrors one assay call of the workload.

    def project_samples(self, cohort: str) -> list[tuple]:
        return [(r["sample_id"], r["cohort"], r["tissue"], r["sex"], r["age"])
                for r in self.samples.values() if r["cohort"] == cohort]

    def expression_select(self, features: list[str], cohort: str) -> list[tuple]:
        members = self.cohort_samples(cohort)
        return [(s, g, *vals) for (s, g), vals in self.genes.items()
                if s in members and g in features]

    def expression_pivot(self, features: list[str], cohort: str) -> tuple[list[str], list[tuple]]:
        members = sorted(self.cohort_samples(cohort))
        rows = [(g, *(self.genes[(s, g)][1] for s in members)) for g in features]
        return ["gene", *members], rows

    def junctions_search(self, chrom: str, start: int, end: int, strand: str) -> list[tuple]:
        return [(c, st, en, sd, s, u, m) for s, c, st, en, sd, u, m in self.filtered_sj
                if c == chrom and sd == strand and en >= start and st <= end]

    def junction_samples_overlap(self, chrom: str, start: int, end: int, strand: str,
                                 min_overlap: float = 0.9) -> list[tuple]:
        def frac(s2: int, e2: int) -> float:
            return max(min(end, e2) - max(start, s2), 0) / (end - start)

        return [(s,) for s in sorted({
            s for s, c, st, en, sd, _, _ in self.filtered_sj
            if c == chrom and sd == strand and frac(st, en) >= min_overlap})]

    def junctions_select(self, cohort: str) -> list[tuple]:
        members = self.cohort_samples(cohort)
        return [(c, st, en, sd, s, u, m) for s, c, st, en, sd, u, m in self.filtered_sj
                if s in members]

    @functools.cached_property
    def variant_rows(self) -> list[tuple]:
        """One row per sample, variant and distinct consequence."""
        return [(chrom, pos, rsid, ref, alt, s, qual, filt, gt, dp, ad,
                 *(_null(v) for v in entry.split("|")))
                for s, chrom, pos, rsid, ref, alt, qual, filt, gt, dp, ad, csq in self.vcf
                for entry in dict.fromkeys(csq)]

    def variants_select(self, chrom: str, start: int, end: int) -> list[tuple]:
        return [r for r in self.variant_rows if r[0] == chrom and start <= r[1] <= end]

    def variants_filter(self, impact: str, genes: list[str]) -> list[tuple]:
        return [r for r in self.variant_rows if r[12] == impact and r[14] in genes]

    def table_rows(self) -> dict[str, int]:
        """Row count each project table must hold after both builds."""
        fsj = self.filtered_sj
        impacts = {(r[1], r[2], r[4], r[5], e) for r in self.vcf for e in r[11]}
        return {
            "samples": len(self.samples),
            "gene_expression": len(self.genes),
            "transcript_expression": len(self.genes) * ISOFORMS_PER_GENE,
            "all_junctions": len({r[1:5] for r in self.sj}),
            "sample_to_alljunction": len(self.sj),
            "junctions": len({r[1:5] for r in fsj}),
            "sample_to_junction": len(fsj),
            "variants": len({(r[1], r[2], r[4], r[5]) for r in self.vcf}),
            "sample_variants": len(self.vcf),
            "variant_impacts": len(impacts),
        }


#: Checked output columns of each assay call, in the order the
#: :class:`Reference` rows use. Surrogate hash ids are left out: they are
#: engine-internal keys, and the natural key columns carry the same rows.
COLUMNS = {
    "project_samples": ["sample_id", "cohort", "tissue", "sex", "age"],
    "expression_select": ["samplename", "gene", "expected_count", "tpm", "fpkm"],
    "junctions_search": ["chrom", "start", "end", "strand", "samplename", "uniq_map", "multi_map"],
    "junction_samples_overlap": ["samplename"],
    "junctions_select": ["chrom", "start", "end", "strand", "samplename", "uniq_map", "multi_map"],
    "variants_select": ["chrom", "pos", "id", "ref", "alt", "samplename", "qual", "filter",
                        "gt", "dp", "ad", *[f.lower() for f in CSQ_FIELDS]],
}
COLUMNS["variants_filter"] = COLUMNS["variants_select"]
