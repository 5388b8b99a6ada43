package graft.rules

/** One output field's extraction strategy — the machine-readable core
  * of the reference's `sections[].extraction_rules`
  * (/root/reference/docs/rule.json:68-845). The reference mixes
  * free-text "logic" prose with machine fields (`regex`, positional
  * sources, page-context references); this model keeps exactly the
  * machine-usable kinds, so keyword/regex/column-index changes need a
  * config edit, not a recompile:
  *
  *  - `regex`      — regexp_extract(group) over the stitched row text
  *                   (N5-N8, J1 FX correlation)
  *  - `cell` / `cell_trim` — 1-based positional column map (N12)
  *  - `page_context` — a page-level attribute carried to every record
  *                   (G4: portfolio_no / client_name / as_of_date)
  *  - `first_date` / `second_date_or_first` — the N9 date heuristics
  *  - `currency_token` / `amount_after_currency` — the N10 split of a
  *                   cell into leading alpha currency + amount remainder
  *  - `positions_quantity` / `positions_name` / `positions_currency` —
  *                   the N11/N13 positions splits
  *  - `const`      — a literal (key holds the value)
  */
case class FieldSpec(
    strategy: String,
    pattern: String = "",
    group: Int = 0,
    index: Int = 0,
    key: String = "")

/** Per-section output-field → strategy maps (the two extraction
  * families; Others emits row_text only, by design — others.py:48-59).
  * The reference's `global_field_constraints` (docs/rule.json:766-845)
  * are not parsed: their semantics — digit caps, currency membership,
  * ISIN shape/checksum, calendar dates — are enforced by the Stage-7
  * validator taxonomy (ExtractionPipeline.validationErrorsCol).
  */
case class ExtractionSpec(
    trade: Map[String, FieldSpec],
    positions: Map[String, FieldSpec])
