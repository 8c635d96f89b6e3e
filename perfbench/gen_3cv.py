#!/usr/bin/env python3
"""Seeded generator of the publish_3cv inputs: a synthetic 3CV workbook,
the importer catalog, the header mapping store, and a truth sidecar.

  3cv.xlsx           one sheet: a 3-row header (parents, children, and a
                     junk marker row that header identification drops)
                     over ~100 columns, then `rows` data rows. Numbers are
                     numeric cells, text goes through the shared-string
                     table, '-' marks a missing value as in the source.
  catalog.csv        28 importers: COD_IMP,NOMBRE_EMP,RUT,NOMBRE_COD,RUT_COD
  mapping_store.json {STD_NAME: {original_names, hashes}} for the 40 headers
                     the pipeline reads, so every one of them standardizes
                     to the column name Stages and the publish projection
                     expect; the ~60 filler headers go through the rules
                     engine.
  truth.json         data row count, the planted unknown importer names
                     (as the pipeline normalizes them), the year range, the
                     34 published
                     column names, and a fingerprint of the published
                     columns whose values follow from the inputs alone.

Importer cells are dirty spellings of catalog names (case, doubled spaces,
legal-suffix variants, trailing dots), checked with the same
Ratcliff/Obershelp ratio the engine scores with, so each clears the 0.6
match bar against its own catalog entry with a margin; planted unknowns
stay far below it. The same (seed, rows) always writes the same bytes.

Usage: gen_3cv.py <out_dir> <seed> <rows>
"""
import difflib
import hashlib
import json
import os
import re
import sys
import zipfile

import numpy as np

PUBLISHED = [
    "MARCA", "MODELO", "CODIGO_INFORME_TECNICO", "FECHA_HOML", "FOOT_PRINT_MT2",
    "AÑO", "TIPO_LDV", "CATEGORIA_PROPULSION", "RUT", "IMP_COD", "EMIS_NORMA",
    "CATEGORIA_VH", "PESO_BRUTO_VH_KG", "TRANSMISION",
    "EMIS_CO2_EQUIV", "REND_EQUIV_KML",
    "N2O_EMISION_EPA", "MP_EMISION_EPA_MASA_PARTICULAS_GKM", "HCHO_EMISION_EPA_MGKM",
    "HC_EMISION_EPA_GKM", "HCNM_EMISION_EPA_GKM", "NMOG_NOX_EMISION_EPA",
    "NOX_EMISION_EPA_GKM", "NMOG_EMISION_EPA_GKM", "CO_EMISION_EPA_GKM",
    "HCHO_EMISION_EU_MGKM", "EMISION_NPS_KM_EU_KM", "HC_NOX_EMISION_EU_GKM",
    "NMOG_EMISION_EU_GKM", "HCNM_EMISION_EU_GKM", "CO_EMISION_EU_GKM",
    "MP_EMISION_MASA_PARTICULAS_EU_GKM", "NOX_EMISION_EU_GKM", "HC_EMISION_EU_GKM"]

# (parent, child or None, standard name, value kind); a parent shared by
# consecutive columns is written once, over the first of them
MAPPED = [
    ("Marca", None, "MARCA", "brand"),
    ("Modelo", None, "MODELO", "model"),
    ("Importador", None, "IMPORTADOR", "importer"),
    ("Propulsión", None, "PROPULSION", "propulsion"),
    ("Combustible", None, "COMBUSTIBLE", "fuel"),
    ("Fecha de Homologación", None, "FECHA_HOML", "date"),
    ("P.B.V.              (kg)", None, "PESO_BRUTO_VH_KG", "weight"),
    ("Categoría Vehículo", None, "CATEGORIA_VH", "vcat"),
    ("Norma de Emisión", None, "EMIS_NORMA", "norm"),
    ("Tipo de Carrocería", None, "TIPO_CARROCERIA", "body"),
    ("Código Informe Técnico", None, "CODIGO_INFORME_TECNICO", "code"),
    ("Foot Print (m2)", None, "FOOT_PRINT_MT2", "num"),
    ("Transmisión", None, "TRANSMISION", "gearbox"),
    ("Rendimiento", "Mixto Rendimiento de Combustible (km/l)", "MIXTO_REND_COMBUSTIBLE_KML", "num"),
    ("Rendimiento", "Rendimiento Eléctrico (km/kwh) Vehículo Eléctrico Puro", "REND_EV_VH_KMKWH", "num"),
    ("Rendimiento", "Combinado Rendimiento WLTC (km/l)", "COMB_REND_WLTC_KML", "num"),
    ("Rendimiento", "Rendimiento Low H2 (kg/100 km) FCEV Vehículo Celda", "REND_LOW_H2_KG_100_KM_FCEV_VH_CELDA", "num"),
    ("Rendimiento", "Mixto Rendimiento Gasolina Vehículo GLP/GNC (km/l)", "MIXTO_REND_GASOL_VH_GLP_GNC_KML", "num"),
    ("Emisiones de CO2", "CO2 (g/km)", "EMIS_CO2_GKM", "num"),
    ("Emisiones de CO2", "CO2 Vehículo Gasolina GLP/GNC (gr/km)", "CO2_VH_GASOL_GLP_GNC_GRKM", "num"),
    ("Emisiones de CO2", "CO2 PHEV Rendimiento Ponderado (g/km)", "CO2_PHEV_REND_PONDERADO_VH_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "N2O (g/km)", "N2O_EMISION_EPA", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "MP Masa de Partícula (g/km)", "MP_EMISION_EPA_MASA_PARTICULAS_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "HCHO (mg/km)", "HCHO_EMISION_EPA_MGKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "HC (g/km)", "HC_EMISION_EPA_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "HCNM (g/km)", "HCNM_EMISION_EPA_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "NMOG+NOx (g/km)", "NMOG_NOX_EMISION_EPA", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "NOx (g/km)", "NOX_EMISION_EPA_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "NMOG (g/km)", "NMOG_EMISION_EPA_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "CO (g/km)", "CO_EMISION_EPA_GKM", "num"),
    ("Norma USA EPA 50.000 / 120.000 150.000 millas", "Número de Partícula (#/km)", "EPA_NPS_KM_NORMA_USA_KM", "num"),
    ("Norma Europea", "HCHO (mg/km)", "HCHO_EMISION_EU_MGKM", "num"),
    ("Norma Europea", "Número de Partícula (#/km)", "EMISION_NPS_KM_EU_KM", "num"),
    ("Norma Europea", "HC+NOx (g/km)", "HC_NOX_EMISION_EU_GKM", "num"),
    ("Norma Europea", "NMOG (g/km)", "NMOG_EMISION_EU_GKM", "num"),
    ("Norma Europea", "HCNM (g/km)", "HCNM_EMISION_EU_GKM", "num"),
    ("Norma Europea", "CO (g/km)", "CO_EMISION_EU_GKM", "num"),
    ("Norma Europea", "MP Masa de Partícula (g/km)", "MP_EMISION_MASA_PARTICULAS_EU_GKM", "num"),
    ("Norma Europea", "NOx (g/km)", "NOX_EMISION_EU_GKM", "num"),
    ("Norma Europea", "HC (g/km)", "HC_EMISION_EU_GKM", "num"),
]

FILLER_TOPICS = [
    "Potencia Máxima Motor (kW)", "Torque Máximo (Nm)", "Cilindrada (cm3)",
    "Capacidad Estanque Combustible (l)", "Capacidad Batería (kWh)",
    "Autonomía Eléctrica (km)", "Velocidad Máxima (km/h)", "Número de Asientos",
    "Número de Puertas", "Largo Total (mm)", "Ancho Total (mm)", "Alto Total (mm)",
    "Distancia entre Ejes (mm)", "Peso en Orden de Marcha (kg)", "Tracción",
    "Tipo de Neumático", "Consumo Energético Ciudad (Wh/km)",
    "Consumo Energético Carretera (Wh/km)", "Observación Técnica", "Laboratorio de Ensayo",
]

BRANDS = ["TOYOTA", "HYUNDAI", "KIA", "CHEVROLET", "NISSAN", "SUZUKI", "MAZDA",
          "PEUGEOT", "FORD", "VOLKSWAGEN", "RENAULT", "MITSUBISHI", "HONDA", "BYD",
          "MG", "CHERY", "SUBARU", "BMW", "MERCEDES BENZ", "AUDI", "VOLVO", "JEEP",
          "CITROEN", "FIAT", "GREAT WALL", "JAC", "SSANGYONG", "DFSK", "GEELY", "RAM"]
PROPULSIONS = [
    ("Combustión", 0.70), ("Vehículo Eléctrico", 0.10),
    ("Vehículos Híbridos sin Recarga Exterior", 0.08),
    ("Vehículos Híbrido con Recarga Exterior", 0.04),
    ("Vehículos Híbridos con Recarga Exterior", 0.02),
    ("Eléctrico Híbrido con Recarga Exterior", 0.02),
    ("Eléctrico de Rango Extendido", 0.02), ("Vehículos Celda de Hidrógeno", 0.02)]
CATEGORY = {
    "vehiculo electrico": "bev", "combustion": "ice", "electrico de rango extendido": "ice",
    "vehiculos hibridos sin recarga exterior": "hev", "vehiculos celda de hidrogeno": "h2",
    "vehiculos hibridos con recarga exterior": "phev",
    "electrico hibrido con recarga exterior": "phev"}
FUELS = ["GASOLINA", "DIESEL", "Gasolina/GLP", "Gasolina/GNC", "GASOLINA/HÍBRIDO", "HIDRÓGENO"]
BODIES = ["SEDAN", "HATCHBACK", "SUV", "CAMIONETA", "STATION WAGON", "FURGÓN", "COUPÉ"]
GEARBOXES = ["MANUAL", "AUTOMÁTICA", "CVT", "AUTOMATIZADA"]
NORMS = ["EURO 6", "EURO 6b", "EURO 6c", "EPA TIER 3", "EPA TIER 2 BIN 5", "CHINA 6"]
VCATS = ["LIVIANO", "MEDIANO", "COMERCIAL"]

FIRST = ["Automotores", "Comercial", "Importadora", "Distribuidora", "Sociedad",
         "Inversiones", "Motores", "Automotriz", "Vehículos", "Representaciones"]
SECOND = ["Gildemeister", "Kaufmann", "Andes", "Pacífico", "Cordillera", "Salinas",
          "Bicentenario", "Portezuelo", "Valparaíso", "Magallanes", "Atacama",
          "Araucanía", "Norte Grande", "Los Lagos", "Santa Elena", "Rinconada"]
SUFFIX = ["SPA", "S.A.", "Limitada", "Chile SPA", "y Compañía Limitada"]
UNKNOWN_WORDS = ["zhejiang", "wuxi", "qingdao", "xuzhou", "kyoto", "yokkaichi",
                 "vujovic", "bjorkqvist", "mxyz", "quigg", "zwolle", "vyx"]

ACCENTS = str.maketrans("áéíóúüñÁÉÍÓÚÜÑ", "aeiouunAEIOUUN")


def normalize_category(s):
    """The engine's category normalization: lower, unaccent, trim spaces."""
    return s.lower().translate(ACCENTS).strip(" ")


def strip_junk(s):
    return re.sub(r"[\t. \-]+", "", s)


def ratio(probe, cand):
    return difflib.SequenceMatcher(None, strip_junk(probe), strip_junk(cand),
                                   autojunk=False).ratio()


def header_hash(text):
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:12]


def catalog(rng):
    names, rows = set(), []
    while len(rows) < 28:
        name = f"{rng.choice(FIRST)} {rng.choice(SECOND)} {rng.choice(SUFFIX)}"
        if name in names:
            continue
        names.add(name)
        rut = f"{int(rng.integers(76, 99))}.{int(rng.integers(100, 999))}.{int(rng.integers(100, 999))}"
        dv = "0123456789K"[int(rng.integers(0, 11))]
        code = strip_junk(name.split()[1]).upper().translate(ACCENTS)[:4]
        rut_cod = rut.replace(".", "") + dv
        rows.append({"COD_IMP": f"{code}{rut_cod}", "NOMBRE_EMP": name,
                     "RUT": f"{rut}-{dv}", "NOMBRE_COD": code, "RUT_COD": rut_cod})
    return rows


def dirty(rng, name):
    """A messy spelling of a catalog name, as importers appear in the 3CV."""
    v = name
    for suf, alts in (("S.A.", ["SA", "S. A.", "s.a"]), ("SPA", ["- SPA", "S.P.A.", "spa."]),
                      ("Limitada", ["Ltda.", "LTDA", "Limitada."])):
        if v.endswith(suf) and rng.random() < 0.5:
            v = v[: -len(suf)] + str(rng.choice(alts))
    if rng.random() < 0.4:
        words = v.split(" ")
        i = int(rng.integers(0, len(words)))
        words[i] = words[i] + " "
        v = " ".join(words)
    if rng.random() < 0.3:
        v = v + "."
    case = rng.random()
    if case < 0.3:
        v = v.upper()
    elif case < 0.5:
        v = v.lower()
    return v


def importer_spellings(rng, cat):
    """Per catalog entry, four spellings that match it (and nothing else)
    with margin, plus planted unknowns that match nothing. None when some
    entry cannot be told apart from its neighbours."""
    names = [c["NOMBRE_EMP"] for c in cat]
    known = []
    for i, name in enumerate(names):
        spellings = []
        for _ in range(200):
            raw = dirty(rng, name)
            scores = [ratio(normalize_category(raw), n) for n in names]
            runner_up = max(s for j, s in enumerate(scores) if j != i)
            if scores[i] > 0.68 and scores[i] - runner_up > 0.06:
                spellings.append(raw)
                if len(spellings) == 4:
                    break
        if len(spellings) < 4:
            return None
        known.append(spellings)
    unknown = []
    while len(unknown) < 5:
        raw = " ".join(str(w) for w in rng.choice(UNKNOWN_WORDS, 3, replace=False)).title()
        probe = normalize_category(raw)
        if max(ratio(probe, n) for n in names) < 0.45 and probe not in unknown:
            unknown.append(probe)
    return known, unknown


def col_ref(c):
    s, c = "", c + 1
    while c:
        c, rem = divmod(c - 1, 26)
        s = chr(ord("A") + rem) + s
    return s


def esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def write_xlsx(path, grid):
    """Minimal OOXML package: workbook, one sheet, shared strings. Cells
    are (kind, value): 's' text, 'n' number, None blank."""
    sst, index = [], {}

    def intern(s):
        if s not in index:
            index[s] = len(sst)
            sst.append(s)
        return index[s]

    refs = [col_ref(c) for c in range(max(len(r) for r in grid))]
    rows = []
    for r, row in enumerate(grid, start=1):
        cells = []
        for c, cell in enumerate(row):
            if cell is None:
                continue
            kind, v = cell
            if kind == "s":
                cells.append(f'<c r="{refs[c]}{r}" t="s"><v>{intern(v)}</v></c>')
            else:
                cells.append(f'<c r="{refs[c]}{r}"><v>{v}</v></c>')
        rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook {ns} xmlns:r="{rel}">'
            '<sheets><sheet name="3CV" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet {ns}><sheetData>'
            + "".join(rows) + "</sheetData></worksheet>",
        "xl/sharedStrings.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst {ns} count="{len(sst)}" '
            f'uniqueCount="{len(sst)}">'
            + "".join(f'<si><t xml:space="preserve">{esc(s)}</t></si>' for s in sst) + "</sst>",
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body.encode("utf-8"))


def fingerprint(rows):
    """Order-free SHA-256 over rendered rows (the run's CSV check uses the
    same rendering)."""
    return hashlib.sha256("\n".join(sorted(rows)).encode("utf-8")).hexdigest()


TRUTH_COLUMNS = ["MARCA", "MODELO", "AÑO", "CATEGORIA_PROPULSION", "TIPO_LDV", "RUT", "IMP_COD"]


def generate(out, seed, n_rows):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    spellings = None
    while spellings is None:
        cat = catalog(rng)
        spellings = importer_spellings(rng, cat)
    known, unknown = spellings

    # columns: the mapped ones in blocks, fillers between blocks, junk last
    blocks, current = [], []
    for m in MAPPED:
        if current and (m[1] is None or current[-1][0] != m[0]):
            blocks.append(current)
            current = []
        current.append(m)
    blocks.append(current)
    fillers = [f"{t} {i // len(FILLER_TOPICS) + 1}" if i >= len(FILLER_TOPICS) else t
               for i, t in enumerate(FILLER_TOPICS * 3)][:59]
    columns = []  # (parent cell, child cell, std name or None, kind)
    per_gap = -(-len(fillers) // len(blocks))
    for b, block in enumerate(blocks):
        for j, (parent, child, std, kind) in enumerate(block):
            columns.append((parent if j == 0 else None, child, std, kind))
        for f in fillers[b * per_gap:(b + 1) * per_gap]:
            columns.append((f, None, None, "filler"))
    n_cols = len(columns) + 1  # + the junk marker column

    store = {}
    for parent, child, std, _ in MAPPED:
        flat = f"{child} {parent}" if child else parent
        store[std] = {"original_names": [flat], "hashes": [header_hash(flat)]}

    header = [[None] * n_cols for _ in range(3)]
    for c, (parent, child, _, _) in enumerate(columns):
        if parent is not None:
            header[0][c] = ("s", parent)
        if child is not None:
            header[1][c] = ("s", child)
    header[2][n_cols - 1] = ("s", "x")

    n = n_rows
    brand = rng.choice(BRANDS, n)
    model = np.array([f"{b[:3]}-{m}" for b, m in zip(brand, rng.integers(1, 60, n))])
    p_names = [p for p, _ in PROPULSIONS]
    p_probs = np.array([w for _, w in PROPULSIONS]) / sum(w for _, w in PROPULSIONS)
    propulsion = rng.choice(p_names, n, p=p_probs)
    missing_date = rng.random(n) < 0.04
    missing_date[0] = False
    day = rng.integers(0, 365 * 13, n)
    dates = (np.datetime64("2013-01-01") + day).astype(str)
    missing_weight = rng.random(n) < 0.04
    missing_weight[0] = False
    weight = rng.integers(1000, 4300, n)
    imp_entry = rng.integers(0, len(cat), n)
    imp_variant = rng.integers(0, 4, n)
    is_unknown = rng.random(n) < 0.02
    unk_pick = rng.integers(0, len(unknown), n)
    for u in range(len(unknown)):  # every planted unknown appears
        is_unknown[1 + u] = True
        unk_pick[1 + u] = u

    kinds = [k for _, _, _, k in columns]
    cell_num = rng.uniform(0.01, 40.0, (n, len(columns)))
    cell_dash = rng.random((n, len(columns))) < 0.15
    pick = rng.integers(0, 1 << 30, (n, len(columns)))
    choices = {"vcat": VCATS, "norm": NORMS, "body": BODIES, "gearbox": GEARBOXES, "fuel": FUELS}
    grid = header
    truth_rows = []
    year, tipo = None, None
    for r in range(n):
        if not missing_date[r]:
            year = dates[r][:4]
        if not missing_weight[r]:
            w = int(weight[r])
            tipo = "liviano" if w < 2700 else ("mediano" if w < 3860 else "")
        if is_unknown[r]:
            u = unknown[unk_pick[r]]
            raw_imp = u.upper() if r % 2 else u.title()
            rut, imp_cod = "", ""
        else:
            e = cat[imp_entry[r]]
            raw_imp = known[imp_entry[r]][imp_variant[r]]
            rut, imp_cod = e["RUT"], e["COD_IMP"]
        row = []
        for c, kind in enumerate(kinds):
            if kind == "brand":
                row.append(("s", str(brand[r])))
            elif kind == "model":
                row.append(("s", str(model[r])))
            elif kind == "importer":
                row.append(("s", raw_imp))
            elif kind == "propulsion":
                row.append(("s", str(propulsion[r])))
            elif kind == "fuel" and propulsion[r] == "Vehículo Eléctrico":
                row.append(None)
            elif kind in choices:
                row.append(("s", choices[kind][pick[r, c] % len(choices[kind])]))
            elif kind == "date":
                row.append(("s", "-" if missing_date[r] else str(dates[r])))
            elif kind == "weight":
                row.append(("s", "-") if missing_weight[r] else ("n", str(int(weight[r]))))
            elif kind == "code":
                row.append(("s", f"CIT-{100000 + pick[r, c] % 900000}"))
            elif cell_dash[r, c]:
                row.append(("s", "-"))
            else:
                row.append(("n", f"{cell_num[r, c]:.2f}"))
        row.append(None)
        grid.append(row)
        truth_rows.append("|".join([
            normalize_category(str(brand[r])), normalize_category(str(model[r])), year,
            CATEGORY.get(normalize_category(str(propulsion[r])), ""), tipo, rut, imp_cod]))

    write_xlsx(os.path.join(out, "3cv.xlsx"), grid)
    with open(os.path.join(out, "catalog.csv"), "w", encoding="utf-8") as f:
        f.write("COD_IMP,NOMBRE_EMP,RUT,NOMBRE_COD,RUT_COD\n")
        for c in cat:
            f.write(f"{c['COD_IMP']},{c['NOMBRE_EMP']},{c['RUT']},{c['NOMBRE_COD']},{c['RUT_COD']}\n")
    with open(os.path.join(out, "mapping_store.json"), "w", encoding="utf-8") as f:
        json.dump(store, f, ensure_ascii=False, indent=1)
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as f:
        years = sorted({d[:4] for d, m in zip(dates, missing_date) if not m})
        json.dump({"rows": n, "columns": PUBLISHED, "not_found": sorted(unknown),
                   "years": [int(years[0]), int(years[-1])],
                   "fingerprint_columns": TRUTH_COLUMNS,
                   "fingerprint": fingerprint(truth_rows)}, f, ensure_ascii=False, indent=1)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
