"""Seeded generator of reference-shaped SINAPI monthly CSV sheets.

One call writes consecutive months (``MONTHS``). Each month is one
``api.run_etl`` input: a maintenance log, one price sheet and one
cost sheet per regime (ISD/ICD/ISE and CSD/CCD/CSE), and the
Analítico structure sheet. The shapes follow the workbook exports the
pipeline reads: a junk title preamble, a discovered header row, 27 UF
columns with decimal-comma cells (some empty), a two-row cost header,
and ``(ref,CODE)`` composition labels. Every row, title lines included,
is padded with ``;`` to the header width, as pandas ``to_csv`` writes it.

The generator also returns what a correct load must report: per month,
``records_inserted`` computed from its own non-null cells, plus the
non-null price cells the read mix draws its lookups from.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

UFS = (
    "AC AL AM AP BA CE DF ES GO MA MG MS MT PA PB PE PI PR RJ RN RO RR "
    "RS SC SE SP TO"
).split()
# (regime, price sheet, cost sheet)
REGIMES = (
    ("NAO_DESONERADO", "ISD", "CSD"),
    ("DESONERADO", "ICD", "CCD"),
    ("SEM_ENCARGOS", "ISE", "CSE"),
)
MONTHS = ((2024, 1), (2024, 2))
UNITS = ("UN", "KG", "M", "M2", "M3", "L", "H", "CJ")
WORDS = (
    "cimento areia brita tijolo bloco concreto argamassa aço prego tinta "
    "tubo cabo fio telha vidro madeira chapa perfil joelho luva registro "
    "válvula caixa disjuntor lâmpada parafuso arruela porca selante manta "
    "piso azulejo rejunte gesso cal"
).split()
MAINT_KINDS = ("INCLUSÃO", "ALTERAÇÃO DE DESCRIÇÃO", "DESATIVAÇÃO")
INSUMO_BASE = 100
COMPOSICAO_BASE = 80_000


@dataclass(frozen=True)
class SinapiScale:
    insumos: int = 600
    composicoes: int = 800
    events: int = 300
    churn: float = 0.03  # share of codes entering/leaving per month
    empty_cell: float = 0.06  # share of empty UF cells
    sub_share: float = 0.4  # composições with sub-composição edges
    max_depth: int = 3  # composição nesting levels, as in real BOMs


@dataclass
class Month:
    year: int
    month: int
    inputs: dict
    expected_inserted: dict[str, int]
    # (code, uf, regime) of every non-null price cell this month
    price_cells: list[tuple[int, str, str]] = field(repr=False)
    # composições of this month that nest sub-composições
    bom_roots: list[int] = field(repr=False)

    @property
    def ref_date(self) -> str:
        return f"{self.year}-{self.month:02d}-01"


def br_number(x: float, decimals: int = 2) -> str:
    """1234.5 -> '1.234,50' (pt-BR thousands dots, decimal comma)."""
    s = f"{x:,.{decimals}f}"
    return s.replace(",", "_").replace(".", ",").replace("_", ".")


def pad(cells: list[str], width: int) -> str:
    return ";".join(cells + [""] * (width - len(cells)))


def _describe(rng: random.Random, prefix: str) -> str:
    return f"{prefix} {' '.join(rng.choices(WORDS, k=3))}".upper()


def _active(born: dict[int, int], died: dict[int, int], m: int) -> list[int]:
    return [c for c in born if born[c] <= m < died[c]]


def _lifecycle(rng: random.Random, codes: list[int], churn: float):
    """Month index each code enters and leaves: most live through all
    months, a churn share enters late or leaves early."""
    born, died = {}, {}
    last = len(MONTHS) - 1
    for c in codes:
        r = rng.random()
        born[c] = 1 + rng.randrange(last) if r < churn else 0
        died[c] = 1 + rng.randrange(last) if churn <= r < 2 * churn else len(MONTHS)
    return born, died


def generate(out_dir: str, seed: int, scale: SinapiScale = SinapiScale()) -> list[Month]:
    """Write every month's sheets under ``out_dir``; return their
    manifests. The same seed writes byte-identical files."""
    rng = random.Random(seed)
    n_ins = int(scale.insumos * (1 + 2 * scale.churn))
    n_comp = int(scale.composicoes * (1 + 2 * scale.churn))
    ins_codes = sorted(rng.sample(range(INSUMO_BASE, INSUMO_BASE + 10 * n_ins), n_ins))
    comp_codes = sorted(
        rng.sample(range(COMPOSICAO_BASE, COMPOSICAO_BASE + 10 * n_comp), n_comp)
    )
    ins_born, ins_died = _lifecycle(rng, ins_codes, scale.churn)
    comp_born, comp_died = _lifecycle(rng, comp_codes, scale.churn)
    ins_desc = {c: _describe(rng, "INSUMO") for c in ins_codes}
    ins_unit = {c: rng.choice(UNITS) for c in ins_codes}
    comp_desc = {c: _describe(rng, "SERVICO") for c in comp_codes}
    comp_unit = {c: rng.choice(UNITS) for c in comp_codes}
    base_price = {c: rng.lognormvariate(3.0, 1.5) for c in ins_codes}
    uf_factor = {uf: 0.85 + 0.3 * rng.random() for uf in UFS}
    regime_factor = {"NAO_DESONERADO": 1.0, "DESONERADO": 0.93, "SEM_ENCARGOS": 0.81}

    # BOM: a DAG; sub-composição children always come from lower codes
    structure: dict[int, tuple[list, list]] = {}
    depth: dict[int, int] = {}
    for i, c in enumerate(comp_codes):
        k = rng.randint(3, 9)
        ins_children = rng.sample(ins_codes, k)
        subs = []
        if rng.random() < scale.sub_share:
            cands = [x for x in comp_codes[max(0, i - 100):i] if depth[x] < scale.max_depth]
            subs = rng.sample(cands, min(len(cands), rng.randint(1, 2)))
        depth[c] = 1 + max((depth[x] for x in subs), default=0)
        structure[c] = (
            [(x, round(rng.uniform(0.01, 20.0), 4)) for x in ins_children],
            [(x, round(rng.uniform(0.1, 3.0), 4)) for x in subs],
        )

    base_cost = {c: sum(coef * base_price[x] for x, coef in structure[c][0]) for c in comp_codes}

    events: list[tuple[int, int, str, str]] = []  # (month, code, tipo, kind)
    seen = set()
    while len(events) < scale.events:
        m = rng.randrange(len(MONTHS))
        if rng.random() < 0.6:
            code, tipo = rng.choice(ins_codes), "INSUMO"
        else:
            code, tipo = rng.choice(comp_codes), "COMPOSICAO"
        kind = rng.choice(MAINT_KINDS)
        if (m, code, tipo, kind) not in seen:
            seen.add((m, code, tipo, kind))
            events.append((m, code, tipo, kind))

    months = []
    for m, (year, month) in enumerate(MONTHS):
        d = os.path.join(out_dir, f"{year}_{month:02d}")
        os.makedirs(d, exist_ok=True)
        drift = 1.0 + 0.01 * m
        ins_m = _active(ins_born, ins_died, m)
        comp_m = _active(comp_born, comp_died, m)
        inputs: dict = {"precos": {}, "custos": {}}
        price_cells: list[tuple[int, str, str]] = []
        n_custo = 0

        for regime, isheet, csheet in REGIMES:
            width = 3 + len(UFS)
            lines = [
                pad([f"SINAPI - PREÇOS DE INSUMOS - {month:02d}/{year}"], width),
                pad([f"Encargos: {regime}"], width),
                pad([], width),
                pad(["CODIGO DO INSUMO", "DESCRICAO DO INSUMO", "UNIDADE", *UFS], width),
            ]
            for c in ins_m:
                cells = [str(c), ins_desc[c], ins_unit[c]]
                for uf in UFS:
                    if rng.random() < scale.empty_cell:
                        cells.append("")
                    else:
                        p = base_price[c] * uf_factor[uf] * regime_factor[regime] * drift
                        cells.append(br_number(p * (0.98 + 0.04 * rng.random())))
                        price_cells.append((c, uf, regime))
                lines.append(pad(cells, width))
            path = os.path.join(d, f"SINAPI_Precos_{isheet}.csv")
            _write(path, lines)
            inputs["precos"][regime] = path

            width = 3 + 2 * len(UFS)
            uf_row = ["", "", ""]
            measure_row = ["Código da Composição", "Descrição", "Unidade"]
            for uf in UFS:
                uf_row += [uf, ""]
                measure_row += ["CUSTO", "%"]
            lines = [
                pad([f"SINAPI - CUSTOS DE COMPOSIÇÕES - {month:02d}/{year}"], width),
                pad([f"Encargos: {regime}"], width),
                pad(uf_row, width),
                pad(measure_row, width),
            ]
            for c in comp_m:
                cells = [f"{comp_desc[c].title()} (ref,{c})", comp_desc[c], comp_unit[c]]
                for uf in UFS:
                    if rng.random() < scale.empty_cell:
                        cells += ["", ""]
                    else:
                        cost = base_cost[c] * uf_factor[uf] * regime_factor[regime] * drift
                        cells += [br_number(cost), br_number(100 * rng.random())]
                        n_custo += 1
                lines.append(pad(cells, width))
            path = os.path.join(d, f"SINAPI_Custos_{csheet}.csv")
            _write(path, lines)
            inputs["custos"][regime] = path

        width = 6
        lines = [
            pad(["SINAPI - ANALÍTICO DE COMPOSIÇÕES"], width),
            pad(["TIPO ITEM", "CODIGO DA COMPOSICAO", "CODIGO DO ITEM",
                 "COEFICIENTE", "DESCRICAO", "UNIDADE"], width),
        ]
        for c in comp_m:
            lines.append(pad(["", str(c), "", "", comp_desc[c], comp_unit[c]], width))
            ins_children, subs = structure[c]
            for x, coef in ins_children:
                lines.append(pad(["INSUMO", str(c), str(x), br_number(coef, 4),
                                  ins_desc[x], ins_unit[x]], width))
            for x, coef in subs:
                lines.append(pad(["COMPOSICAO", str(c), str(x), br_number(coef, 4),
                                  comp_desc[x], comp_unit[x]], width))
        path = os.path.join(d, "SINAPI_Analitico.csv")
        _write(path, lines)
        inputs["estrutura"] = path

        # the maintenance export is cumulative: every event up to this month
        width = 5
        lines = [
            pad(["RELATÓRIO DE MANUTENÇÕES"], width),
            pad(["REFERENCIA", "TIPO", "CODIGO", "DESCRICAO", "MANUTENCAO"], width),
        ]
        for em, code, tipo, kind in events:
            if em <= m:
                y, mo = MONTHS[em]
                desc = ins_desc[code] if tipo == "INSUMO" else comp_desc[code]
                lines.append(pad([f"{mo:02d}/{y}", tipo, str(code), desc, kind], width))
        path = os.path.join(d, "SINAPI_Manutencoes.csv")
        _write(path, lines)
        inputs["manutencoes"] = path

        months.append(
            Month(
                year=year,
                month=month,
                inputs=inputs,
                expected_inserted={
                    "manutencoes_historico": sum(1 for e in events if e[0] == m),
                    "precos_insumos_mensal": len(price_cells),
                    "custos_composicoes_mensal": n_custo,
                },
                price_cells=price_cells,
                bom_roots=[c for c in comp_m if structure[c][1]],
            )
        )
    return months


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def input_files(months: list[Month]) -> list[str]:
    out = []
    for mo in months:
        out.append(mo.inputs["manutencoes"])
        out += list(mo.inputs["precos"].values())
        out += list(mo.inputs["custos"].values())
        out.append(mo.inputs["estrutura"])
    return out
