"""Seeded SINAPI month generator with an independent expected-state model.

Writes reference-shaped CSV sheets for consecutive months (price sheets
per regime, two-row-header cost sheets per regime, the Analítico
structure sheet and the maintenance log) and, alongside, keeps a plain
Python model of what the warehouse must hold after each month is
loaded. The model follows the documented load semantics (catalog
upsert, structure overwrite, append-ignore-conflicts facts, latest
maintenance event decides status), not the Spark code.

Sheet shape follows the test fixtures: a junk preamble, a header row
that must be discovered, a two-row UF/measure header on cost sheets,
decimal commas with thousands dots, pt-BR accents and ~9% empty UF
cells. Every line carries the full column count, as a spreadsheet
export (``sources/landing.excel_to_csv``) writes it; see NOTES.md for
why a narrower preamble line is not generated.

Month-to-month drift: new insumos and composições appear (INCLUSÃO
events), peripheral items are deactivated (DESATIVAÇÃO events, then
absent from later sheets), descriptions change, prices and costs move
and structure coefficients are revised.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

UFS = (
    "AC AL AM AP BA CE DF ES GO MA MG MS MT PA PB PE PI PR RJ RN RO RR "
    "RS SC SE SP TO"
).split()
PRECOS_REGIMES = {"ISD": "NAO_DESONERADO", "ICD": "DESONERADO", "ISE": "SEM_ENCARGOS"}
CUSTOS_REGIMES = {"CSD": "NAO_DESONERADO", "CCD": "DESONERADO", "CSE": "SEM_ENCARGOS"}
EMPTY_CELL_P = 0.09

_WORDS = (
    "Cimento Areia média Água Brita Tijolo cerâmico Argamassa Concreto "
    "usinado Aço CA-50 Impermeabilização Pintura acrílica Tubulação PVC "
    "Conexão Registro Vedação Revestimento Cerâmica Madeira Compensado "
    "Prego Parafuso Fio Cabo Disjuntor Eletroduto Calha Telha Forro "
    "Gesso Vidro Esquadria Alumínio Manta Asfáltica Escavação Aterro "
    "Compactação Fôrma Armação Lançamento Demolição Remoção Instalação"
).split()
_UNITS = ("KG", "M3", "M2", "M", "UN", "L", "H", "SC", "kg", "m2", "un")
_MONTHS_PT = (
    "JANEIRO FEVEREIRO MARÇO ABRIL MAIO JUNHO JULHO AGOSTO SETEMBRO "
    "OUTUBRO NOVEMBRO DEZEMBRO"
).split()

EV_INCLUSAO = "INCLUSÃO"
EV_DESATIVACAO = "DESATIVAÇÃO"
EV_ALTERACAO = "ALTERAÇÃO DE DESCRIÇÃO"


@dataclass(frozen=True)
class Scale:
    """Catalog sizes of the generated SINAPI universe."""

    insumos: int
    composicoes: int
    children: tuple[int, int] = (3, 8)  # insumo children per composição


def cents_text(cents: int) -> str:
    """pt-BR money text: 123456 -> '1.234,56'."""
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def coef_text(units: int) -> str:
    """Coefficient in ten-thousandths -> '12,3456' (no thousands dots)."""
    whole, frac = divmod(units, 10_000)
    return f"{whole},{frac:04d}"


def coef_value(units: int) -> float:
    """What the loader parses '12,3456' into: float('12.3456')."""
    whole, frac = divmod(units, 10_000)
    return float(f"{whole}.{frac:04d}")


@dataclass
class Item:
    code: int
    desc: str
    unit: str
    prices: dict[str, list[int]]  # regime -> cents per UF
    peripheral: bool
    active: bool = True
    in_sheets: bool = True  # hidden composições live only in the Analítico


@dataclass
class Composition(Item):
    insumos: dict[int, int] = field(default_factory=dict)  # code -> coef units
    subs: dict[int, int] = field(default_factory=dict)


@dataclass
class MonthFiles:
    year: int
    month: int
    ref_date: str
    manutencoes: str
    precos: dict[str, str]  # regime -> csv path
    custos: dict[str, str]
    estrutura: str
    input_bytes: int


@dataclass
class Expected:
    """The warehouse the documented load semantics produce."""

    insumos: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    composicoes: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    precos: dict[tuple[int, str, str, str], Decimal] = field(default_factory=dict)
    custos: dict[tuple[int, str, str, str], Decimal] = field(default_factory=dict)
    comp_insumos: dict[tuple[int, int], float] = field(default_factory=dict)
    comp_subs: dict[tuple[int, int], float] = field(default_factory=dict)
    manutencoes: set[tuple[int, str, str, str]] = field(default_factory=set)
    inserted: list[dict[str, int]] = field(default_factory=list)


class SinapiWorld:
    """A seeded SINAPI universe that advances one month per ``write_month``."""

    def __init__(self, seed: int, scale: Scale, year: int = 2024, month: int = 1):
        self.rng = random.Random(seed)
        self.scale = scale
        self.year, self.month = year, month
        self.expected = Expected()
        self._ins_codes = iter(self.rng.sample(range(100, 100_000), 99_000))
        self._comp_codes = iter(self.rng.sample(range(100_000, 200_000), 99_000))
        self.insumos: dict[int, Item] = {}
        self.comps: dict[int, Composition] = {}
        n_core = int(scale.insumos * 0.6)
        for i in range(scale.insumos):
            self._new_insumo(peripheral=i >= n_core)
        # codes the structure references but no price sheet lists:
        # exercises the placeholder repair
        self.unknown_insumos = [next(self._ins_codes) for _ in range(max(2, scale.insumos // 200))]
        self.core_insumos = [c for c, it in self.insumos.items() if not it.peripheral]
        n_hidden = max(2, scale.composicoes // 50)
        n_shared = scale.composicoes // 3  # may appear as sub-composições
        for i in range(scale.composicoes):
            self._new_comp(
                peripheral=i >= n_shared + n_hidden, hidden=i < n_hidden
            )
        self._link_subcompositions()

    # -- universe ------------------------------------------------------
    def _desc(self) -> str:
        words = self.rng.sample(_WORDS, self.rng.randint(2, 5))
        desc = " ".join(words) + f" {self.rng.randint(1, 999)}"
        # a trailing blank now and then: the loader trims it
        return desc + " " if self.rng.random() < 0.05 else desc

    def _prices(self, lo: int, hi: int) -> dict[str, list[int]]:
        base = self.rng.randint(lo, hi)
        out = {}
        for regime_i, regime in enumerate(PRECOS_REGIMES.values()):
            out[regime] = [
                max(1, int(base * (1 + 0.03 * regime_i) * self.rng.uniform(0.8, 1.25)))
                for _ in UFS
            ]
        return out

    def _new_insumo(self, peripheral: bool) -> Item:
        it = Item(next(self._ins_codes), self._desc(), self.rng.choice(_UNITS),
                  self._prices(5, 500_000), peripheral)
        self.insumos[it.code] = it
        return it

    def _new_comp(self, peripheral: bool, hidden: bool = False) -> Composition:
        c = Composition(next(self._comp_codes), self._desc(), self.rng.choice(_UNITS),
                        self._prices(1_000, 9_000_000), peripheral, in_sheets=not hidden)
        lo, hi = self.scale.children
        for code in self.rng.sample(self.core_insumos, self.rng.randint(lo, hi)):
            c.insumos[code] = self.rng.randint(1, 250_000)
        if self.rng.random() < 0.02:
            c.insumos[self.rng.choice(self.unknown_insumos)] = self.rng.randint(1, 50_000)
        self.comps[c.code] = c
        return c

    def _link_subcompositions(self) -> None:
        """Non-peripheral composições form a DAG: a composição may use
        sub-composições listed after it, so paths are finite and a few
        levels deep."""
        shared = [c for c in self.comps.values() if not c.peripheral]
        for i, c in enumerate(shared):
            later = shared[i + 1:]
            if later and self.rng.random() < 0.35:
                for sub in self.rng.sample(later, min(len(later), self.rng.randint(1, 2))):
                    c.subs[sub.code] = self.rng.randint(1, 30_000)

    def _drift(self) -> list[tuple[str, int, str, str]]:
        """Advance one month; returns this month's maintenance events
        as (tipo, code, description, event)."""
        rng, events = self.rng, []
        for items, tipo in ((self.insumos, "INSUMO"), (self.comps, "COMPOSICAO")):
            live = [it for it in items.values() if it.active]
            for it in live:
                r = rng.random()
                if it.peripheral and it.in_sheets and r < 0.01:
                    it.active = False
                    events.append((tipo, it.code, it.desc, EV_DESATIVACAO))
                    continue
                if r < 0.03:
                    it.desc = self._desc()
                    events.append((tipo, it.code, it.desc, EV_ALTERACAO))
                if rng.random() < 0.4:
                    factor = rng.uniform(0.96, 1.08)
                    for cents in it.prices.values():
                        cents[:] = [max(1, int(v * factor)) for v in cents]
            for _ in range(max(1, len(live) // 100)):
                it = self._new_insumo(True) if tipo == "INSUMO" else self._new_comp(True)
                events.append((tipo, it.code, it.desc, EV_INCLUSAO))
        for c in self.comps.values():
            for kids in (c.insumos, c.subs):
                for code in kids:
                    if rng.random() < 0.05:
                        kids[code] = rng.randint(1, 250_000)
        return events

    # -- sheets --------------------------------------------------------
    @staticmethod
    def _write(path: str, rows: list[list[str]], width: int) -> int:
        lines = []
        for r in rows:
            lines.append(";".join(r + [""] * (width - len(r))))
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(path, "wb") as fh:
            fh.write(data)
        return len(data)

    def write_month(self, out_dir: str) -> MonthFiles:
        """Write the next month's sheets and advance the expected model.

        Every month, the first included, drifts from the one before it,
        so every maintenance log has events.
        """
        if self.expected.inserted:
            self.month += 1
            if self.month > 12:
                self.year, self.month = self.year + 1, 1
        events = self._drift()
        y, m = self.year, self.month
        ref = f"{y}-{m:02d}-01"
        os.makedirs(out_dir, exist_ok=True)
        mes = f"{_MONTHS_PT[m - 1]}/{y}"
        total = 0

        # maintenance log
        w = 5
        rows = [["RELATÓRIO DE MANUTENÇÕES", f"Referência {mes}"], [],
                ["REFERENCIA", "TIPO", "CODIGO", "DESCRICAO", "MANUTENCAO"]]
        for tipo, code, desc, ev in events:
            rows.append([f"{m:02d}/{y}", tipo, str(code), desc, ev])
        manut_path = os.path.join(out_dir, f"SINAPI_Manutencoes_{y}_{m:02d}.csv")
        total += self._write(manut_path, rows, w)

        # price sheets, one per regime
        w = 3 + len(UFS)
        listed = [it for it in self.insumos.values() if it.active]
        cells = {
            regime: [[self.rng.random() >= EMPTY_CELL_P for _ in UFS] for _ in listed]
            for regime in PRECOS_REGIMES.values()
        }
        precos = {}
        for key, regime in PRECOS_REGIMES.items():
            rows = [[f"SINAPI - PREÇOS DE INSUMOS - {mes}"],
                    [f"Encargos sociais: {regime.lower()}", "Localidade: todas as UFs"],
                    [],
                    ["CODIGO DO INSUMO", "DESCRICAO DO INSUMO", "UNIDADE", *UFS]]
            for it, present in zip(listed, cells[regime]):
                row = [str(it.code), it.desc, it.unit]
                for cents, keep in zip(it.prices[regime], present):
                    row.append(cents_text(cents) if keep else "")
                rows.append(row)
            path = os.path.join(out_dir, f"SINAPI_Precos_{key}_{y}_{m:02d}.csv")
            total += self._write(path, rows, w)
            precos[regime] = path

        # cost sheets: two-row header, UF over CUSTO and %
        w = 3 + 2 * len(UFS)
        costed = [c for c in self.comps.values() if c.active and c.in_sheets]
        ccells = {
            regime: [[self.rng.random() >= EMPTY_CELL_P for _ in UFS] for _ in costed]
            for regime in CUSTOS_REGIMES.values()
        }
        custos = {}
        for key, regime in CUSTOS_REGIMES.items():
            uf_row = ["", "", ""]
            for uf in UFS:
                uf_row += [uf, ""]
            rows = [[f"SINAPI - CUSTOS DE COMPOSIÇÕES - {mes}"],
                    [f"Encargos sociais: {regime.lower()}"],
                    uf_row,
                    ["Código da Composição", "Descrição", "Unidade"] + ["CUSTO", "%"] * len(UFS)]
            for c, present in zip(costed, ccells[regime]):
                row = [f"{c.desc.strip()} (ref,{c.code})", c.desc, c.unit]
                for cents, keep in zip(c.prices[regime], present):
                    row += [cents_text(cents), f"{cents % 97},{cents % 10}"] if keep else ["", ""]
                rows.append(row)
            path = os.path.join(out_dir, f"SINAPI_Custos_{key}_{y}_{m:02d}.csv")
            total += self._write(path, rows, w)
            custos[regime] = path

        # Analítico: a parent row per composição, then its children
        w = 6
        rows = [["SINAPI - ANALÍTICO DE COMPOSIÇÕES", mes], [],
                ["TIPO ITEM", "CODIGO DA COMPOSICAO", "CODIGO DO ITEM", "COEFICIENTE",
                 "DESCRICAO", "UNIDADE"]]
        structured = [c for c in self.comps.values() if c.active]
        for c in structured:
            rows.append(["", str(c.code), "", "", c.desc, c.unit])
            for code, units in c.insumos.items():
                it = self.insumos.get(code)
                rows.append(["INSUMO", str(c.code), str(code), coef_text(units),
                             it.desc if it else "Insumo sem cadastro", it.unit if it else "UN"])
            for code, units in c.subs.items():
                sub = self.comps[code]
                rows.append(["COMPOSICAO", str(c.code), str(code), coef_text(units),
                             sub.desc, sub.unit])
        estrutura = os.path.join(out_dir, f"SINAPI_Analitico_{y}_{m:02d}.csv")
        total += self._write(estrutura, rows, w)

        self._apply(ref, events, listed, cells, costed, ccells, structured)
        return MonthFiles(y, m, ref, manut_path, precos, custos, estrutura, total)

    # -- expected warehouse --------------------------------------------
    def _apply(self, ref, events, listed, cells, costed, ccells, structured) -> None:
        exp = self.expected
        n_manut = 0
        for tipo, code, desc, ev in events:
            key = (code, tipo, ref, ev)
            if key not in exp.manutencoes:
                exp.manutencoes.add(key)
                n_manut += 1

        # catalog upsert: sheet codes, plus placeholders for codes the
        # structure references but no sheet lists
        incoming = {it.code: (it.desc.strip(" "), it.unit.strip(" ").upper()) for it in listed}
        for c in structured:
            for code in c.insumos:
                if code not in incoming:
                    incoming[code] = (f"INSUMO_DESCONHECIDO_{code}", "UN")
        for code, (desc, unit) in incoming.items():
            old = exp.insumos.get(code)
            exp.insumos[code] = (desc, unit, old[2] if old else "ATIVO")
        comp_in = {c.code: (c.desc.strip(" "), c.unit.strip(" ").upper()) for c in costed}
        for c in structured:
            if c.code not in comp_in:  # hidden: described by its Analítico parent row
                comp_in[c.code] = (c.desc.strip(" "), c.unit.strip(" ").upper())
        for code, (desc, unit) in comp_in.items():
            old = exp.composicoes.get(code)
            exp.composicoes[code] = (desc, unit, old[2] if old else "ATIVO")

        exp.comp_insumos = {
            (c.code, k): coef_value(u) for c in structured for k, u in c.insumos.items()
        }
        exp.comp_subs = {
            (c.code, k): coef_value(u) for c in structured for k, u in c.subs.items()
        }

        n_precos = 0
        for regime in PRECOS_REGIMES.values():
            for it, present in zip(listed, cells[regime]):
                for uf, cents, keep in zip(UFS, it.prices[regime], present):
                    key = (it.code, uf, ref, regime)
                    if keep and key not in exp.precos:
                        exp.precos[key] = Decimal(cents).scaleb(-2)
                        n_precos += 1
        n_custos = 0
        for regime in CUSTOS_REGIMES.values():
            for c, present in zip(costed, ccells[regime]):
                for uf, cents, keep in zip(UFS, c.prices[regime], present):
                    key = (c.code, uf, ref, regime)
                    if keep and key not in exp.custos:
                        exp.custos[key] = Decimal(cents).scaleb(-2)
                        n_custos += 1

        # status sync: the month's latest event per item decides
        latest: dict[tuple[str, int], str] = {}
        for tipo, code, _desc, ev in events:
            k = (tipo, code)
            if k not in latest or ev > latest[k]:
                latest[k] = ev
        for (tipo, code), ev in latest.items():
            table = exp.insumos if tipo == "INSUMO" else exp.composicoes
            if code in table:
                desc, unit, _ = table[code]
                table[code] = (desc, unit, "DESATIVADO" if "DESATIVA" in ev else "ATIVO")

        exp.inserted.append({
            "manutencoes_historico": n_manut,
            "precos_insumos_mensal": n_precos,
            "custos_composicoes_mensal": n_custos,
        })
