"""End-to-end SINAPI pipeline test on reference-shaped CSV fixtures.

Fixtures mirror the real workbook shapes (junk preamble, header at a
discovered row, 2-row cost headers, decimal commas, pt-BR accents) —
the same startrow-offset pattern as the reference's own processor test
(``/root/reference/tests/core/test_processor.py:86-111``).
"""

from __future__ import annotations

import uuid

import pytest

from autosinapi_spark.pipeline import SinapiPipeline
from autosinapi_spark.schemas import SINAPI_SCHEMAS
from autosinapi_spark.sources.csv_source import read_discovered_csv

PRECOS_CSV = """SINAPI - PREÇOS DE INSUMOS - JANEIRO/2024;;;;;
Encargos: não desonerado;;;;;
;;;;;
;;;;;
CODIGO DO INSUMO;DESCRICAO DO INSUMO;UNIDADE;SP;RJ;MG
101;Cimento Portland;kg;12,34;13,00;
102;Areia média;m3;1.234,56;;15,75
103;Água;l;0,10;0,20;0,30
"""

CUSTOS_CSV = """SINAPI - CUSTOS DE COMPOSIÇÕES;;;;;;
junk row;;;;;;
;;;SP;;RJ;
Código da Composição;Descrição;Unidade;CUSTO;%;CUSTO;%
Alvenaria de vedação (ref,9001);Alvenaria;m2;100,00;50;200,50;50
Estrutura de concreto (ref,9002);Estrutura;m3;1.000,99;60;;40
"""

MANUT_CSV = """RELATÓRIO DE MANUTENÇÕES;;;;
REFERENCIA;TIPO;CODIGO;DESCRICAO;MANUTENCAO
01/2024;INSUMO;101;Cimento Portland;ALTERAÇÃO DE DESCRIÇÃO
01/2024;INSUMO;103;Água;DESATIVAÇÃO
01/2024;COMPOSICAO;9002;Estrutura;DESATIVAÇÃO
"""

ESTRUTURA_CSV = """SINAPI - ANALÍTICO DE COMPOSIÇÕES;;;;;
TIPO ITEM;CODIGO DA COMPOSICAO;CODIGO DO ITEM;COEFICIENTE;DESCRICAO;UNIDADE
;9001;;;Alvenaria de vedação;m2
INSUMO;9001;101;2,5;Cimento;kg
COMPOSICAO;9001;9002;1,0;Estrutura;m3
;9002;;;Estrutura de concreto;m3
INSUMO;9002;104;0,5;Prego 17x21;kg
"""


def _write_csvs(d):
    (d / "SINAPI_Precos_ISD.csv").write_text(PRECOS_CSV, encoding="utf-8")
    (d / "SINAPI_Custos_CSD.csv").write_text(CUSTOS_CSV, encoding="utf-8")
    (d / "SINAPI_Manutencoes.csv").write_text(MANUT_CSV, encoding="utf-8")
    (d / "SINAPI_Analitico.csv").write_text(ESTRUTURA_CSV, encoding="utf-8")
    return d


@pytest.fixture()
def csv_dir(tmp_path):
    return _write_csvs(tmp_path)


def _run(spark, csv_dir, warehouse):
    pipe = SinapiPipeline(spark, str(warehouse), 2024, 1)
    return pipe, pipe.run(
        manutencoes_csv=str(csv_dir / "SINAPI_Manutencoes.csv"),
        precos_csvs={"NAO_DESONERADO": str(csv_dir / "SINAPI_Precos_ISD.csv")},
        custos_csvs={"NAO_DESONERADO": str(csv_dir / "SINAPI_Custos_CSD.csv")},
        estrutura_csv=str(csv_dir / "SINAPI_Analitico.csv"),
    )


@pytest.fixture(scope="module")
def monthly(spark, tmp_path_factory):
    """One monthly load of the padded fixtures, shared read-only by the
    tests that inspect its warehouse."""
    root = tmp_path_factory.mktemp("monthly")
    return _run(spark, _write_csvs(root), root / "wh")


def _assert_footers_match_declared(spark, pipe):
    """Each table's INFERRED schema equals its SINAPI_SCHEMAS entry in
    names, order and types (nullability aside): the writers keep the
    contract that ``SinapiPipeline.read`` pins."""
    for t, declared in SINAPI_SCHEMAS.items():
        footer = spark.read.parquet(pipe.path(t)).schema
        assert [(f.name, f.dataType) for f in footer] == [
            (f.name, f.dataType) for f in declared
        ], t


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_full_monthly_load(spark, monthly):
    pipe, result = monthly
    assert result["status"] == "SUCESSO"

    insumos = {
        r["codigo"]: r for r in pipe.read("insumos").collect()
    }
    # 101-103 from the price sheet, 104 via placeholder repair (J1/J3)
    assert set(insumos) == {101, 102, 103, 104}
    assert insumos[104]["descricao"] == "INSUMO_DESCONHECIDO_104"
    assert insumos[104]["unidade"] == "UN"
    # status sync: DESATIVAÇÃO event wins for 103; others stay ATIVO
    assert insumos[103]["status"] == "DESATIVADO"
    assert insumos[101]["status"] == "ATIVO"
    assert insumos[104]["status"] == "ATIVO"

    comps = {r["codigo"]: r for r in pipe.read("composicoes").collect()}
    assert set(comps) == {9001, 9002}  # C4 extracted from '(ref,9001)'
    assert comps[9002]["status"] == "DESATIVADO"
    assert comps[9001]["status"] == "ATIVO"

    precos = {
        (r["insumo_codigo"], r["uf"]): float(r["preco_mediano"])
        for r in pipe.read("precos_insumos_mensal").collect()
    }
    # decimal commas + thousands dots parsed; empty UF cells dropped
    assert precos == {
        (101, "SP"): 12.34,
        (101, "RJ"): 13.0,
        (102, "SP"): 1234.56,
        (102, "MG"): 15.75,
        (103, "SP"): 0.1,
        (103, "RJ"): 0.2,
        (103, "MG"): 0.3,
    }

    custos = {
        (r["composicao_codigo"], r["uf"]): float(r["custo_total"])
        for r in pipe.read("custos_composicoes_mensal").collect()
    }
    # two-row header flatten: {UF}_CUSTO selected, % columns ignored
    assert custos == {
        (9001, "SP"): 100.0,
        (9001, "RJ"): 200.5,
        (9002, "SP"): 1000.99,
    }

    edges = {
        (r["composicao_pai_codigo"], r["insumo_filho_codigo"]): r["coeficiente"]
        for r in pipe.read("composicao_insumos").collect()
    }
    assert edges == {(9001, 101): 2.5, (9002, 104): 0.5}
    subs = {
        (r["composicao_pai_codigo"], r["composicao_filho_codigo"]): r[
            "coeficiente"
        ]
        for r in pipe.read("composicao_subcomposicoes").collect()
    }
    assert subs == {(9001, 9002): 1.0}

    manut = pipe.read("manutencoes_historico")
    assert manut.count() == 3
    assert result["records_inserted"]["manutencoes_historico"] == 3


def test_monthly_rerun_is_idempotent(spark, csv_dir, tmp_path):
    wh = tmp_path / "wh"
    _run(spark, csv_dir, wh)
    pipe, second = _run(spark, csv_dir, wh)
    # K2 append-nodup: same month re-run inserts nothing new
    assert second["records_inserted"]["precos_insumos_mensal"] == 0
    assert second["records_inserted"]["custos_composicoes_mensal"] == 0
    assert second["records_inserted"]["manutencoes_historico"] == 0
    assert pipe.read("insumos").count() == 4
    assert pipe.read("precos_insumos_mensal").count() == 7
    _assert_footers_match_declared(spark, pipe)


def test_warehouse_footers_match_declared_schemas(spark, monthly):
    _assert_footers_match_declared(spark, monthly[0])


def test_schema_pinned_reads_launch_no_jobs(spark, monthly, csv_dir):
    """Reads whose schema the engine already knows run no Spark job:
    warehouse reads, a repeated fixture load and the CSV source."""
    from autosinapi_spark.catalog import load
    from tests.conftest import SF_SMOKE

    pipe = monthly[0]
    # the counter sees the footer job an unpinned read launches
    assert _jobs_launched(
        spark, lambda: spark.read.parquet(pipe.path("insumos"))
    ) >= 1
    for t in SINAPI_SCHEMAS:
        assert _jobs_launched(spark, lambda: pipe.read(t)) == 0, t
    def load_lineitem():
        return load(spark, SF_SMOKE, "lineitem")

    load_lineitem()
    assert _jobs_launched(spark, load_lineitem) == 0
    sheet = str(csv_dir / "SINAPI_Precos_ISD.csv")
    keywords = pipe.cfg.PRECOS_HEADER_KEYWORDS
    assert _jobs_launched(
        spark, lambda: read_discovered_csv(spark, sheet, keywords)
    ) == 0


def test_title_line_narrower_than_header_loads_every_column(
    spark, monthly, csv_dir, tmp_path
):
    """A bare one-field title line (no ``;`` padding) above the header
    must not narrow the sheet: the CSV read is as wide as the header,
    and the load inserts what the padded sheet inserts. Rows wider
    than the header that lie beyond the header pre-scan are still
    truncated to the read's width; failing fast on them would be a
    separate, declared change."""
    sheet = csv_dir / "SINAPI_Precos_ISD.csv"
    sheet.write_text(
        "SINAPI - PREÇOS DE INSUMOS\n" + PRECOS_CSV.split("\n", 1)[1],
        encoding="utf-8",
    )
    pipe, want = monthly
    raw = read_discovered_csv(
        spark, str(sheet), pipe.cfg.PRECOS_HEADER_KEYWORDS
    )
    assert raw.columns == ["CODIGO", "DESCRICAO", "UNIDADE", "SP", "RJ", "MG"]
    _, got = _run(spark, csv_dir, tmp_path / "wh")
    assert got["records_inserted"] == want["records_inserted"]


def test_header_not_found_raises(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("a;b;c\n1;2;3\n", encoding="utf-8")
    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1)
    with pytest.raises(ValueError, match="header with keywords"):
        pipe.process_manutencoes(str(bad))


def test_custom_constants_wire_into_transforms(spark, csv_dir, tmp_path):
    """CUSTOS_CODIGO_REGEX and MANUTENCOES_DATE_FORMAT overrides must
    actually reach extract_code / first_of_month (not just validate)."""
    from autosinapi_spark.config import EngineConfig

    (csv_dir / "m_iso.csv").write_text(
        MANUT_CSV.replace("01/2024", "2024-01"), encoding="utf-8"
    )
    cfg = EngineConfig(
        storage={"warehouse": str(tmp_path / "wh")},
        sinapi={"year": 2024, "month": 1},
        custom_constants={
            "MANUTENCOES_DATE_FORMAT": "yyyy-MM",
            # keep only the FIRST digit of the code tail — observably
            # different from the default r",(\d+)\)$" (9001 -> 9)
            "CUSTOS_CODIGO_REGEX": r",(\d)\d*\)$",
        },
    )
    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1, cfg)

    manut = pipe.process_manutencoes(str(csv_dir / "m_iso.csv"))
    assert {
        r["data_referencia"].isoformat() for r in manut.collect()
    } == {"2024-01-01"}

    cat, _ = pipe.process_custos(
        str(csv_dir / "SINAPI_Custos_CSD.csv"), "NAO_DESONERADO"
    )
    assert {r["codigo"] for r in cat.collect()} == {9}
