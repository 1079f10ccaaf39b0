"""E3 SectionSplitter — the order-dependent state machine.

Reference behavior (`scrc/preprocessors/extractors/section_splitter.py:
26-174` + the generic engine in `spider_specific/
section_splitting_functions.py:1034-1088`): a document is a list of
paragraphs; per-court regex markers announce sections; the splitter
walks paragraphs sequentially and ADVANCES the current section when a
*later* section's marker matches (never goes back), accumulating
paragraphs into the current section.  FULL_TEXT is everything.

SURVEY.md §7.3 calls this out as a hard part: it must stay a
per-document sequential fold — do NOT relationalize it.  So: a
pandas_udf mapping text → array<struct<section:string, text:string>>,
then a built-in ``explode`` to section rows.  Marker tables are plain
data (fresh, modeled on the generic German marker shapes at
`section_splitting_functions.py:33-49`, plus fr/it equivalents), keyed
by language, broadcast with the closure.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

SECTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("section", StringType()),
            StructField("text", StringType()),
        ]
    )
)

# Canonical section order (Section enum, `scrc/enums/section.py:4-11`:
# FULL_TEXT, HEADER, TOPIC, FACTS, CONSIDERATIONS, RULINGS, FOOTER).
SECTION_ORDER = ["header", "topic", "facts", "considerations", "rulings", "footer"]

# Fresh marker data in the reference's *shape*: language -> section ->
# list of paragraph regexes (searched, not anchored — markers may sit
# mid-paragraph after PDF extraction).
SECTION_MARKERS: dict[str, dict[str, list[str]]] = {
    "de": {
        "topic": [r"^Gegenstand", r"^betreffend", r"^wegen\b"],
        "facts": [r"^Sachverhalt", r"^A\.[\s_-]", r"^Ausgangslage", r"Nach Einsicht"],
        "considerations": [
            r"^Erw[äa]gung(en)?",
            r"^Aus den Erw[äa]gungen",
            r"zieht in Erw[äa]gung",
            r"[Ii]n Erw[äa]gung",
        ],
        "rulings": [
            r"^Demnach (erkennt|beschliesst|verfügt)",
            r"erk[ae]nnt(\s\S+){0,3}:\s*$",
            r"beschl(iesst|ossen)(\s\S+){0,3}:\s*$",
            r"verfügt(\s\S+){0,3}:\s*$",
            r"^Dispositiv",
        ],
        "footer": [r"^Rechtsmittelbelehrung", r"^Im Namen des", r"^Mitteilung an"],
    },
    "fr": {
        "topic": [r"^Objet\b"],
        "facts": [r"^En fait", r"^Faits\b", r"^A\.[\s_-]", r"^[Vv]u\s?:"],
        "considerations": [
            r"^En droit",
            r"^Consid[ée]rant",
            r"considère en droit",
            r"^Le Tribunal considère",
        ],
        "rulings": [r"^Par ces? motifs?", r"^[Pp]rononce\s?:", r"^[Oo]rdonne\s?:"],
        "footer": [r"^Voie de recours", r"^Au nom de"],
    },
    "it": {
        "topic": [r"^Oggetto\b"],
        "facts": [r"^In fatto", r"^Ritenuto in fatto", r"^[Ff]att[io]\s?:"],
        "considerations": [
            r"^In diritto",
            r"^Considerando",
            r"^Considerato",
            r"^[Dd]iritto\s?:",
        ],
        "rulings": [r"^Per questi motivi"],
        "footer": [r"^Contro la presente", r"^In nome del"],
    },
}

# Per-spider overrides (the reference's spider-specific dispatch,
# `abstract_extractor.py:167-183`: function named == spider, else the
# generic default).  A spider entry may override the section ORDER (the
# LU/OW-style courts that put rulings before considerations,
# `section_splitting_functions.py:772-790,872-893`) and/or define its
# own marker table ``{lang: {section: [regexes]}}``.  Semantics: for a
# SECTION the spider defines, its patterns REPLACE the generic ones
# (each reference spider function carries its own full dict); sections
# the spider leaves out inherit the generic patterns, and languages the
# spider doesn't define fall back entirely to the generic table.  Both
# fallbacks deviate from the reference — which carries no markers for
# such sections and skips unknown-language documents outright
# (`valid_namespace`, :716-730) — chosen so a missing footer config or
# one unexpected language doesn't null out a whole partition.
#
# The five configs below are the reference's own largest-volume courts
# (skew list, `dataset_creator.py:424-439`), marker content rewritten
# condensed from `section_splitting_functions.py:597-643` (CH_BGer),
# `:913-945` (CH_BVGer), `:53-77` (GE_Gerichte), `:1276-1306`
# (ZH_Sozialversicherungsgericht), `:270-296,846-871` (VD_Omni /
# VD_FindInfo).
SPIDER_OVERRIDES: dict[str, dict] = {
    "OW_Custom": {
        "order": ["header", "topic", "facts", "rulings", "considerations", "footer"],
    },
    # OW publishes the dispositive FIRST (`:772-790`): the document
    # opens in rulings, then facts, then the reasoning excerpt.
    "OW_Gerichte": {
        "order": ["rulings", "facts", "considerations"],
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [
                    r"den Erw[äa]gungen", r"In Erw[äa]gung:", r"Erw[äa]gungen:",
                ],
                "rulings": [],
            },
        },
    },
    "LU_Gerichte": {
        "order": ["header", "topic", "facts", "rulings", "considerations", "footer"],
        "markers": {
            "de": {
                "rulings": [r"^Entscheid:\s*$"],
                "considerations": [r"^Aus den Erw[äa]gungen"],
            },
        },
    },
    "CH_BGer": {
        "markers": {
            "de": {
                "topic": [r"^Gegenstand", r"^betreffend", r"^Betreff", r"^wegen\b"],
                "facts": [r"Sachverhalt:", r"hat sich ergeben", r"Nach Einsicht", r"^A\.-"],
                "considerations": [r"Erw[äa]gung(en)?:", r"[Ii]n Erw[äa]gung"],
                "rulings": [
                    r"Demnach (erkennt|beschliesst|verfügt)",
                    r"erkennt d\w\w Präsident",
                    r"erk[ae]nnt(\s[\wäöü]*){0,3}:\s*$",
                    r"beschliesst(\s[\wäöü]*){0,3}:\s*$",
                    r"verfügt(\s[\wäöü]*){0,3}:\s*$",
                    r"beschlossen:",
                    r"erkennt das Eidg\. Versicherungsgericht",
                ],
            },
            "fr": {
                "topic": [r"^Objet\b"],
                "facts": [r"Faits\s?:", r"en fait et en droit", r"[Vv]u\s?:", r"^A\.-"],
                "considerations": [
                    r"Considérant en (fait et en )?droit\s?:",
                    r"[Cc]onsidérants?\s?:",
                    r"considère",
                ],
                "rulings": [r"prononce\s?:", r"Par ces? motifs?", r"ordonne\s?:"],
            },
            "it": {
                "topic": [r"^Oggetto\b"],
                "facts": [r"[Ff]att[io]\s?:"],
                "considerations": [
                    r"[Cc]onsiderando", r"[Dd]iritto\s?:", r"Visto:", r"Considerato",
                ],
                "rulings": [r"[Pp]er questi motivi"],
                "footer": [
                    # trailing "<place>, <day> <italian month> <year>" date line
                    r",\s(il\s?)?\d?\d°?\s?(gen|feb|mar|apr|mag|giu|lug|ago|set|ott|nov|dic)\w*\s?\d{2,4}\s?[A-Za-z\/]{0,7}:?\s*$",
                ],
            },
        },
    },
    "CH_BVGer": {
        "markers": {
            "de": {
                "facts": [r"Sachverhalt", r"stellt fest,"],
                "considerations": [r"zieht in Erw[äa]gung", r"stellt fest und erwägt"],
                "rulings": [r"Demnach erkennt das Bundesverwaltungsgericht"],
                "footer": [
                    r"Der vorsitzende Richter: (Der Gerichtsschreiber|Die Gerichtsschreiberin):",
                    r"Dieses Urteil geht an:",
                    r"Gegen diesen Entscheid kann innert 30 Tagen",
                    r"^Rechtsmittelbelehrung:$",
                ],
            },
            "fr": {
                "facts": [r"^Faits\b", r"stellt fest,"],
                "considerations": [r"et considérant", r"Droit :$"],
                "rulings": [r"Tribunal administratif fédéral prononce"],
                "footer": [
                    r"Indication des voies de droit\s?:",
                    r"Voies de droit:",
                    r"L[ae] (juge unique|présidente? du collège)\s?: L[ae] greffi[eè]re?\s?:",
                ],
            },
            "it": {
                "facts": [r"Fatti:", r"Ritenuto in fatto", r"Visto:?$"],
                "considerations": [
                    r"considerato in diritto:", r"Diritto:", r"e considerato",
                    r"Considerando in diritto",
                ],
                "rulings": [r"Per questi motivi, il Tribunale amministrativo federale"],
                "footer": [
                    r"(Il|La) presidente del collegio:", r"Rimedi di diritto",
                    r"Data di spedizione:",
                ],
            },
        },
    },
    "GE_Gerichte": {
        "markers": {
            "fr": {
                "facts": [r"EN FAIT", r"en fait"],
                "considerations": [r"EN DROIT", r"en droit"],
                "rulings": [r"PAR CES MOTIFS", r"LA CHAMBRE ADMINISTRATIVE"],
                "footer": [
                    r"[Ll]a [Gg]reffière", r"[Ll]e [Gg]reffier", r"Siégeant",
                    r"Voie de recours", r"Le recours doit être", r"[Ll]e [Pp]résident",
                ],
            },
            "de": {
                "facts": [r"Tatbestand", r"Sachverhalt"],
                "considerations": [r"Erw[äa]gung"],
                "rulings": [
                    r"Demnach (erkennt|beschliesst)",
                    r"Demnach wird (beschlossen|verfügt)",
                    r"Dispositiv",
                ],
                "footer": [r"Rechtsmittel"],
            },
        },
    },
    "ZH_Sozialversicherungsgericht": {
        "markers": {
            "de": {
                "facts": [r"Sachverhalt:"],
                "considerations": [r"in Erw[äa]gung", r"Erw[äa]gungen:"],
                "rulings": [
                    r"Das Gericht (erkennt|beschliesst|verfügt):",
                    r"(Der|Die) Einzelrichter(in)? (erkennt|beschliesst|verfügt):",
                    r"(beschliesst|erkennt) das Gericht:",
                    r"und erkennt sodann:",
                    r"(Der|Die) Referent(in)? (erkennt|beschliesst|verfügt):",
                ],
                "footer": [r"Gegen diesen Entscheid kann"],
            },
        },
    },
    "VD_Omni": {
        "markers": {
            "fr": {
                "facts": [r"[Vv]u les faits suivants\s?:?", r"constate en fait\s?:", r"En fait\s?:"],
                "considerations": [
                    r"[Cc]onsidérant en droit\s?:?", r"considère en droit\s?:",
                    r"^considérant$", r"Considérant", r"En droit\s?:",
                    r"constate ce qui suit en fait et en droit\s?:",
                ],
                "rulings": [r"du Tribunal cantonal arrête:", r"Par ces motifs"],
                "footer": [
                    r"L[ea] président[e]?\s?:( L[ea] greffi[eè]re?\s?:)?",
                    r"Au nom du Tribunal administratif\s?:",
                ],
            },
        },
    },
    "VD_FindInfo": {
        "markers": {
            "fr": {
                "facts": [r"En fait", r"E n f a i t", r"EN FAIT", r"Vu l'enquête"],
                "considerations": [r"E n d r o i t", r"En droit", r"En fait et en droit"],
                "rulings": [r"ces motifs,$"],
                "footer": [
                    r"l'envoi de photocopies\.", r"L[ea] greffi[eè]re?",
                    r"L['’]arrêt (qui précède|est exécutoire)",
                ],
            },
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Aus den Erw[äa]gungen"],
                "footer": [r"Rechtsmittelbelehrung"],
            },
        },
    },
    # ---- batch 2: remaining cantonal courts (condensed from
    # `section_splitting_functions.py`; line refs per spider) ----------
    "TI_Gerichte": {  # :297-322
        "markers": {
            "it": {
                "facts": [
                    r"^ritenuto\b", r"in fatto( ed in diritto)?",
                    r"^Fatti\b", r"considerato in fatto e in diritto",
                ],
                "considerations": [
                    r"^Diritto\b", r"in diritto:?", r"^[Cc]onsiderato$",
                    r"^[Cc]onsiderando$", r"Considerato, in diritto",
                ],
                "rulings": [
                    r"Per (questi|i quali) motivi", r"dichiara e pronuncia:",
                    r"pronuncia:?$", r"^decide:$",
                ],
                "footer": [
                    r"Per il Tribunale cantonale", r"Il presidente La segretaria",
                    r"Per la seconda Camera civile",
                ],
            },
        },
    },
    "CH_BSTG": {  # :646-713, condensed
        "markers": {
            "de": {
                "header": [
                    r"^(Verfügung|Beschluss|Urteil|Entscheid|Präsidialverfügung|Präsidialentscheid) vom \d",
                ],
                "facts": [r"^Sachverhalt:?$", r"Prozessgeschichte:?", r"hält fest, dass"],
                "considerations": [
                    r"^Nach Einsicht in$", r"^[iI]n\sErw[äa]gung:?",
                    r"^Erw[äa]gungen:?$", r"erwäg\w*,?\s?(dass)?\s*:?\s*$",
                ],
                "rulings": [
                    r"^und (verfügt|erkennt|beschliesst):?\s*$",
                    r"^Demnach (erkennt|verfügt|beschliesst)",
                    r"^beschliesst die Strafkammer:$",
                ],
                "footer": [
                    r"^Rechtsmittelbelehrung", r"^Hinweis:?",
                    r"^Zustellung an\s*$", r"^Nach Eintritt der Rechtskraft",
                ],
            },
            "fr": {
                "header": [
                    r"^(Arrêt|Ordonnance|Décision|Jugement) du \d",
                ],
                "facts": [r"^[Ff]aits:?", r"[Vv]u\s*:?(que)?"],
                "considerations": [
                    r"(et|Et)?\s*[Cc]onsidérant\s*(que)?:",
                    r"La Cour d['’]appel considère", r"DROIT",
                    r"considère en droit:",
                ],
                "rulings": [
                    r"Ordonne:", r"(prononce|décide)\s*:",
                    r"Par ces motifs,.*(prononce|décide|ordonne)\s*:",
                ],
                "footer": [
                    r"Indications? des voies de (recours|droit|plainte)",
                    r"Voies de droit", r"^Distribution",
                    r"Appel à la Cour d['’]appel du Tribunal pénal fédéral",
                ],
            },
            "it": {
                "header": [
                    r"^(Sentenza|Decisione|Ordinanza|Decreto)\s*del",
                ],
                "facts": [r"^[Ff]att[io]\s*:$", r"Visti:", r"(Ritenuto )?in fatto( ed? in diritto)?:"],
                "considerations": [
                    r"^(e\s)?[Cc]onsiderato:?\s*$", r"^[Dd]iritto:?\s*$",
                    r"considera in (fatto e in )?diritto:", r"^In diritto:$",
                    r"Estratto dei considerandi:",
                ],
                "rulings": [
                    r"La Corte (decreta|pronuncia|ordina):",
                    r"^Per questi motivi,?.*(decreta|ordina|pronuncia):",
                    r"Corte dei reclami penali pronuncia:",
                    r"Il Giudice unico pronuncia:", r"^Decreta:$",
                ],
                "footer": [
                    r"[Rr]imedi\sgiuridici", r"^Intimazione a:",
                    r"^Comunicazione", r"Reclamo alla Corte dei reclami penali",
                ],
            },
        },
    },
    "BS_Omni": {  # :491-516
        "markers": {
            "de": {
                "facts": [r"^Sachverhalt:?\s*$", r"^Tatsachen$"],
                "considerations": [
                    r"^Begründung:\s*$", r"Erw[äa]gung(en)?:?\s*$",
                    r"^Entscheidungsgründe$", r"[iI]n Erw[äa]gung[:,]?\s*$",
                ],
                "rulings": [
                    r"Demgemäss erkennt d\w\w", r"erkennt d\w\w [A-Z]\w+:",
                    r"Appellationsgericht (\w+ )?(\(\w+\) )?erkennt",
                    r"^und erkennt:$", r"erkennt:\s*$", r"Demnach wird erkannt:",
                ],
                "footer": [
                    r"^Rechtsmittelbelehrung$", r"AUFSICHTSKOMMISSION",
                    r"APPELLATIONSGERICHT",
                ],
            },
        },
    },
    "VS_Gerichte": {  # :517-541
        "markers": {
            "de": {
                "facts": [
                    r"^[Ii]n Sachen", r"^Sachverhalt:?$", r"Sachverhalt \(gekürzt\)",
                    r"Gekürzter Sachverhalt", r"Sachverhalt und Verfahren",
                    r"SACHVERHALT", r"^Verfahren$",
                ],
                "considerations": [
                    r"^Erw[äa]gungen:?$", r"Aus den Erw[äa]gungen",
                    r"stellt fest und zieht in Erw[äa]gung", r"ERWÄGUNGEN",
                ],
                "rulings": [
                    r"erkennt:?$", r"Demnach (erkennt|wird erkannt)",
                    r"Das Kantonsgericht (beschliesst|verfügt)",
                    r"DEMNACH WIRD ERKANNT:",
                ],
            },
            "fr": {
                "facts": [
                    r"^Faits$", r"Faits \(résumé\)", r"FAITS ET PROCEDURE",
                    r"Faits et procédure", r"Statuant en faits", r"^Vu$",
                ],
                "considerations": [
                    r"Considérant en droit:?", r"Considérants \(extraits\)",
                    r"^[Cc]onsidérant$", r"DROIT", r"^Droit$",
                ],
                "rulings": [r"[Pp]ar ces motifs,", r"^[Pp]rononce:?$", r"PRONONCE"],
            },
        },
    },
    "SZ_Gerichte": {  # :542-566
        "markers": {
            "de": {
                "considerations": [
                    r"nachdem sich ergeben( und in Erw[äa]gung:)?",
                    r"in Erw[äa]gung",
                ],
                "rulings": [
                    r"^erkennt:?$", r"^beschlossen:?$", r"^verfügt:?$",
                    r"^erkannt:?$", r"(erkannt und beschlossen|beschlossen und erkannt):?$",
                ],
                "footer": [r"^Namens", r"^Versand"],
            },
        },
    },
    "SO_Omni": {  # :567-596
        "markers": {
            "de": {
                "header": [
                    r"^(Beschluss|Urteil|Entscheid)\svom\s\d",
                    r"^(SOG|KSGE) \d+ Nr\. \d+$",
                ],
                "facts": [r"^Sachverhalt\s*(gekürzt)?:?$", r"^In Sachen"],
                "considerations": [
                    r"^(Aus den )?Erw[äa]gungen:?$",
                    r"zieht\s.*Erw[äa]gung(en)?:?(, dass)?",
                ],
                "rulings": [
                    r"^Demnach wird (erkannt|beschlossen|verfügt):$",
                    r"^erkannt:$", r"^(beschlossen|festgestellt) und erkannt:",
                ],
                "footer": [r"^Rechtsmittel(\sbelehrung)?:?"],
            },
        },
    },
    "GL_Omni": {  # :173-190
        "markers": {
            "de": {
                "facts": [r"in Sachen", r"Sachverhalt"],
                "considerations": [r"Erw[äa]gung(en)?", r"Betracht:?$"],
                "rulings": [
                    r"[Dd]emgemäss (erkennt|beschliesst)", r"erkennt sodann",
                    r"Gericht\s*(erkennt|beschliesst)", r"zieht in Betracht",
                    r"(verfügt|beschliesst|erkennt):?$",
                ],
                "footer": [r"^Rechtsmittelbelehrung:?$"],
            },
        },
    },
    "BL_Gerichte": {  # :191-208 (PDF extraction spaces out letters)
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [
                    r"zieht i n E r w ä g u n g", r"Erw[äa]gungen", r"in Erw[äa]gung:",
                ],
                "rulings": [
                    r"Demgemäss wird e r k a n n t",
                    r"Demgemäss w i r d e r k a n n t",
                    r"Dem(nach|gemäss) (wird erkannt|erkennt das Steuergericht:)",
                    r"(Es )?wird erkannt:",
                ],
                "footer": [
                    r"Rechtsmittelbelehrung", r"^Präsident(in)?$",
                    r"^Gerichtsschreiber(in)?$",
                ],
            },
        },
    },
    "AG_Gerichte": {  # :209-244 (AG_Weitere aliases this below)
        "markers": {
            "de": {
                "facts": [r"^Sachverhalt", r"entnimmt den Akten:"],
                "considerations": [
                    r"in Erw[äa]gung:", r"Aus den Erw[äa]gungen", r"^Erw[äa]gungen$",
                ],
                "rulings": [r"(erkennt|beschliesst|entscheidet):?$"],
                "footer": [
                    r"^Rechtsmittelbelehrung",
                    r"Der (Vize)?[Pp]räsident: (Der Gerichtsschreiber|Die Gerichtsschreiberin):",
                ],
            },
        },
    },
    "NW_Gerichte": {  # :379-408
        "markers": {
            "de": {
                "header": [
                    r"(Entscheid|Urteil|Zwischenentscheid|Beschluss|Abschreibungsentscheid|Abschreibungsverfügung) vom \d",
                ],
                "facts": [r"Sachverhalt:", r"Prozessgeschichte:", r"Nach Einsicht:"],
                "considerations": [r"Erw[äa]gungen:"],
                "rulings": [
                    r"Rechtsspruch:",
                    r"(Demgemäss|Demnach) (beschliesst|erkennt|verfügt) (die|das) (Obergericht|Verfahrensleitung|Verwaltungsgericht|Prozessleitung):?",
                ],
                "footer": [r"Stans,\s\d{1,2}\.\s\w+\s\d{4}"],
            },
        },
    },
    "BE_Verwaltungsgericht": {  # :409-445
        "markers": {
            "de": {
                "facts": [r"Sachverhalt( und Erw[äa]gungen)?:", r"Regeste:?"],
                "considerations": [
                    r"Erw[äa]gungen:", r"[eE]rwäg(t|ung):?(,\s*dass)?",
                ],
                "rulings": [r"Demnach entscheidet"],
                "footer": [r"Rechtsmittelbelehrung"],
            },
            "fr": {
                "facts": [r"En fait:"],
                "considerations": [r"En droit:"],
                "rulings": [r"Par ces motifs:"],
                "footer": [r"Voie de recours"],
            },
        },
    },
    "GR_Gerichte": {  # :446-490 / :947-972
        "markers": {
            "de": {
                "facts": [r"Sachverhalt:?$", r"hat sich ergeben:?", r"in Sachen$"],
                "considerations": [
                    r"Erw[äa]gungen:?$", r"zieht in Erw[äa]gung:?$", r"In Erw[äa]gung,",
                ],
                "rulings": [
                    r"^Demnach (erkennt|verfügt)", r"wird (erkannt|verfügt):?$",
                    r"^(erkannt|verfügt)\s?:$",
                ],
                "footer": [r"Für den Kantonsgerichtsausschuss von Graubünden"],
            },
            "it": {
                "header": [
                    r"TRIBUNALE AMMINISTRATIVO DEL CANTONE DEI GRIGIONI",
                    r"Tribunale cantonale dei Grigioni",
                    r"Dretgira chantunala dal Grischun",
                ],
                "facts": [r"concernente"],
                "considerations": [
                    r"Considerando\s*in\s*diritto\s*:",
                    r"considera :", r"Considerandi", r"In considerazione:",
                    r"visto e considerato:", r"Considerato in fatto e in diritto:",
                ],
                "rulings": [
                    r"Camera (penale|civile) (pronuncia|giudica|decreta|decide|ordina|considera)\s*:",
                    r"Per questi motivi (il Tribunale giudica|si decreta):",
                    r"Il Tribunale decide:", r"[Ii]l Giudice unico decide:",
                    r"^decide:$", r"decreta", r"^(è giudicato:)$",
                ],
                "footer": [r"Per la Presidenza del Tribunale cantonale dei Grigioni"],
            },
        },
    },
    "UR_Gerichte": {  # :323-378 (position-based engine, same marker data)
        "markers": {
            "de": {
                "facts": [r"Sachverhalt:"],
                "considerations": [
                    r"Aus den Erw[äa]gungen( des Bundesgerichts)?:", r"Erw[äa]gungen:",
                ],
            },
        },
    },
    "BE_Steuerrekurs": {  # :148-172
        "markers": {
            "de": {
                "facts": [r"den Akten entnommen"],
                "considerations": [r"Die Steuerrekurskommission zieht in Erw[äa]gung"],
                "rulings": [r"Aus diesen Gründen wird erkannt:"],
                "footer": [r"IM NAMEN DER STEUERREKURSKOMMISSION"],
            },
            "fr": {
                "facts": [r"constate en fait"],
                "considerations": [r"considère en droit"],
                "rulings": [r"Par ces motifs"],
                "footer": [r"AU NOM DE LA COMMISSION DES RECOURS"],
            },
        },
    },
    "AR_Gerichte": {  # :128-147
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Erw[äa]gungen"],
                "rulings": [r"erkennt", r"beschliesst"],
                "footer": [r"[Ll]a [Gg]reffière"],
            },
        },
    },
    "JU_Gerichte": {  # :894-912
        "markers": {
            "fr": {
                "facts": [r"EN FAIT", r"En fait", r"Vu l[ea]"],
                "considerations": [r"En droit", r"EN DROIT"],
                "rulings": [r"PAR CES MOTIFS"],
                "footer": [
                    r"AU NOM DE LA COUR ADMINISTRATIVE",
                    r"Communication concernant les moyens de recours",
                ],
            },
        },
    },
    "FR_Gerichte": {  # :748-771
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Erw[äa]gungen", r"zieht in Erw[äa]gung,"],
                "rulings": [r"erkennt( der Hof)?:$", r"entscheidet:$"],
                "footer": [
                    r"(Gegen diesen Entscheid|Dieses Urteil) kann inner",
                    r"innert 30 Tagen",
                ],
            },
            "fr": {
                "facts": [r"considérant en fait", r"^attendu$"],
                "considerations": [
                    r"considérant en fait et en droit", r"en droit$", r"^considérant$",
                ],
                "rulings": [
                    r"la (Cour|Chambre) arrête", r"prononce:$", r"arrête:?$",
                ],
                "footer": [
                    r"Cet arrêt peut faire", r"Cette décision peut", r"Siégeant",
                    r"Voie de recours", r"dans (un délai de|les) 30 jours",
                ],
            },
        },
    },
    "NE_Omni": {  # :973-992 (spaced-letter OCR forms)
        "markers": {
            "fr": {
                "facts": [r"Résumé"],
                "considerations": [
                    r"C\s?O\s?N\s?S\s?I\s?D\s?E\s?R\s?A\s?N\s?T",
                    r"en droit", r"e n  d r o i t",
                ],
                "rulings": [r"Par ces\s?motifs,?"],
                "footer": [
                    r"Le greffier", r"AU NOM DU TRIBUNAL ADMINISTRATIF",
                    r"^Neuchâtel, le ",
                ],
            },
        },
    },
    "SG_Gerichte": {  # :1013-1033 (SG_Publikationen aliases this below)
        "markers": {
            "de": {
                "facts": [
                    r"Sachverhalt:?$", r"in Sachen$",
                    r"Das Verwaltungsgericht stellt fest:",
                    r"hat das Verwaltungsgericht festgestellt:",
                ],
                "considerations": [
                    r"^Erw[äa]gung(en)?:?$", r"Darüber (wird|zieht das Verwaltungsgericht) in Erw[äa]gung( gezogen)?:",
                    r"Aus den Erw[äa]gungen:", r"in Erw[äa]gung gezogen:",
                    r"Der Abteilungspräsident erwägt:",
                ],
                "rulings": [
                    r"^(Entscheid|entschieden|erkannt|beschlossen):?$",
                    r"zu Recht( erkannt)?:?$", r"festgestellt und erkannt:?$",
                    r"(beschlossen und erkannt|verfügt):?$",
                    r"Demgemäss hat das Versicherungsgericht entschieden:",
                ],
                "footer": [r"Rechtsmittelbelehrung"],
            },
        },
    },
    "ZH_Obergericht": {  # :1243-1275
        "markers": {
            "de": {
                "facts": [r"^\s*betreffend(\s|$)", r"Sachverhalt:"],
                "considerations": [
                    r"[Aa]us den Erw[äa]gungen", r"Erw[äa]gungen:?\s*$",
                    r"Das (Einzelgericht|Gericht) (erwägt|zieht in (Erw[äa]gung|Betracht))",
                    r"hat in Erw[äa]gung gezogen:",
                ],
                "rulings": [
                    r"^\s*Es wird (erkannt|beschlossen):", r"^\s*wird beschlossen:\s*$",
                    r"Das (Einzelgericht|Gericht) (erkennt|beschliesst):",
                    r"(Sodann|Demnach|Demgemäss) beschliesst das Gericht:",
                ],
                "footer": [
                    r"^\s*Zürich,( den| vom)?\s\d{1,2}\.?\s?\w+\s\d{4}\s*$",
                    r"OBERGERICHT DES KANTONS ZÜRICH",
                ],
            },
        },
    },
    "ZH_Steuerrekurs": {  # :1307-1335
        "markers": {
            "de": {
                "facts": [r"hat sich ergeben:"],
                "considerations": [r"zieht in Erw[äa]gung:", r"sowie in der Erw[äa]gung"],
                "rulings": [
                    r"Demgemäss (erkennt|beschliesst|verfügt)",
                    r"beschliesst die Rekurskommission",
                    r"verfügt (der Einzelrichter|die Einzelrichterin)",
                ],
                "footer": [r"Im Namen des Steuerrekursgerichts"],
            },
        },
    },
    "ZH_Verwaltungsgericht": {  # :1336-1379
        "markers": {
            "de": {
                "facts": [
                    r"hat sich ergeben:", r"nach Einsichtnahme in", r"Sachverhalt:?\s*$",
                ],
                "considerations": [
                    r"erwägt:", r"zieht in (Erw[äa]gung|Betracht)",
                    r"in Erw[äa]gung, dass", r"[Aa]us den Erw[äa]gungen", r"hat erwogen:",
                ],
                "rulings": [
                    r"(Demgemäss|Demnach|Dementsprechend) (erkennt|erkannt|beschliesst|entscheidet|verfügt)",
                    r"Das Verwaltungsgericht entscheidet",
                    r"(Die Kammer|Der Einzelrichter|Die Einzelrichterin) (erkennt|entscheidet|beschliesst|hat beschlossen)",
                    r"Der Abteilungspräsident verfügt:", r"^\s*verfügt:?\s*$",
                    r"^\s*entschieden:\s*$", r"^\s*und (entscheidet|erkennt):\s*$",
                ],
                "footer": [r"Rechtsmittelbelehrung"],
            },
            "fr": {
                "facts": [r"En fait"],
                "considerations": [r"En droit"],
                "rulings": [r"Par ces motifs:"],
                "footer": [r"Voie de recours"],
            },
        },
    },
    "ZH_Baurekurs": {  # :1213-1242
        "markers": {
            "de": {
                "facts": [r"hat sich ergeben", r"Gegenstand des Rekursverfahrens"],
                "considerations": [r"Es kommt in Betracht", r"Aus den Erw[äa]gungen"],
                "rulings": [
                    r"(Zusammengefasst|Zusammenfassend) (ist|sind|ergibt sich)",
                    r"Der Rekurs ist nach", r"Gesamthaft ist der Rekurs",
                    r"Dies führt zur (Aufhebung|Abweisung|Gutheissung|teilweisen)",
                ],
                "footer": [r"Im Namen des Baurekursgerichts"],
            },
        },
    },
    # ---- batch 3: the remaining reference spiders -----------------------
    "BE_Anwaltsaufsicht": {  # :78-102
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Erw[äa]gungen"],
                "rulings": [r"Die Anwaltsaufsichtsbehörde entscheidet:"],
                "footer": [
                    r"(Der|Die) Präsident(in)?:?", r"Rechtsmittelbelehrung",
                    r"Hinweis: Dieser Entscheid ist rechtskräftig",
                ],
            },
            "fr": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Considérants:"],
                "rulings": [r"Pour ces motifs,"],
                "footer": [r"Voies de recours"],
            },
        },
    },
    "BE_Weitere": {  # :103-127
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Erw[äa]gung(en)?", r"erwogen", r"Ausgangslage$"],
                "rulings": [
                    r"entscheidet$", r"wird erkannt", r"erkannt ?:",
                    r"III\. Entscheid", r"[1-9] Entscheid",
                ],
                "footer": [r"^Rechtsmittelbelehrung"],
            },
            "fr": {
                "facts": [r"Faits", r"de fait", r"En fait:", r"les faits"],
                "considerations": [
                    r"considère:", r"Considérants", r"En droit",
                    r"Considérations sur le fond",
                ],
                "rulings": [r"P[oa]r ces motifs", r"Frais de procédure"],
                "footer": [r"Voies de recours", r"Indication des voies de droit"],
            },
        },
    },
    "CH_WEKO": {  # :245-269
        "markers": {
            "de": {
                "facts": [r"Sachverhalt$", r"in Sachen$", r"Ausgangslage$"],
                "considerations": [r"Erw[äa]gungen$"],
                "rulings": [
                    r"Dispositiv$", r"verfügt die WEKO",
                    r"^[1-9] Ergebnis$", r"^[A-Z] Schlussfolgerungen$",
                ],
                "footer": [r"^Rechtsmittelbelehrung:?$"],
            },
            "fr": {
                "facts": [r"Etat de fait$", r"in Sachen$"],
                "considerations": [r"Considérants$", r"CONSIDERANTS$"],
                "rulings": [r"Dispositif$", r"DISPOSITIF$"],
                "footer": [r"Voie de droit:?$"],
            },
        },
    },
    "CH_EDOEB": {  # :792-826
        "markers": {
            "de": {
                "facts": [
                    r"in Sachen", r"Sachverhalt",
                    r"und Öffentlichkeitsbeauftragte stellt fest",
                ],
                "considerations": [r"Erw[äa]gung(en)?"],
                "rulings": [r"[Aa]ufgrund dieser Erw[äa]gungen empfiehlt"],
                "footer": [r"Rechtsmittelbelehrung"],
            },
            "fr": {
                "facts": [r"données et à la transparence constate"],
                "considerations": [
                    r"Considérants formels :", r"considère ce qui suit :",
                ],
                "rulings": [r"recommande ce qui suit"],
                "footer": [r"Rechtsmittelbelehrung"],
            },
            "it": {
                "facts": [r"protezione dei dati e della trasparenza accerta"],
                "considerations": [r"protezione dei dati e della trasparenza considera"],
                "rulings": [r"formula le seguenti raccomandazioni"],
                "footer": [r"Rechtsmittelbelehrung"],
            },
        },
    },
    "SH_OG": {  # :827-845 (published excerpts: no rulings section)
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Aus den Erw[äa]gungen"],
                "rulings": [r"no rulings section"],
                "footer": [r"Rechtsmittelbelehrung"],
            },
        },
    },
    "CH_BGE": {  # :1091-1120 (published volumes carry explicit labels)
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Erw[äa]gung(en)?:?"],
                "rulings": [
                    r"Dispositiv", r"Demnach (erkennt|beschliesst)",
                    r"wird (beschlossen|verfügt):", r"erkannt:",
                ],
                "footer": [r"^Rechtsmittelbelehrung"],
            },
            "fr": {
                "facts": [r"Sachverhalt", r"Résumé des faits"],
                "considerations": [
                    r"Erw[äa]gungen", r"Extraits? des considérants",
                    r"Considérant en droit", r"motifs suivants",
                ],
                "rulings": [r"Dispositiv", r"Par ces motifs"],
                "footer": [r"^Rechtsmittelbelehrung"],
            },
            "it": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"Erw[äa]gungen"],
                "rulings": [r"Dispositiv"],
                "footer": [r"^Rechtsmittelbelehrung"],
            },
        },
    },
    "AI_Aktuell": {  # :1121-1137 (summaries: considerations only)
        "markers": {
            "de": {
                "considerations": [r"^Erw[äa]gungen:?$"],
                "rulings": [r"no ruling section"],
                "footer": [r"^Rechtsmittelbelehrung"],
            },
        },
    },
    "AI_Bericht": {  # :1138-1154
        "markers": {
            "de": {
                "considerations": [
                    r"^Erw[äa]gungen:?$",
                    r"Aus den Erw[äa]gungen der Standeskommission:",
                ],
                "rulings": [r"no ruling section"],
                "footer": [r"^Rechtsmittelbelehrung"],
            },
        },
    },
    "ZG_Verwaltungsgericht": {  # :1174-1212
        "markers": {
            "de": {
                "facts": [
                    r"wird Folgendes festgestellt:", r"wird nach Einsicht in",
                    r"^A\.\s", r"^A\.a\)\s",
                ],
                "considerations": [
                    r"(Der|Die|Das) \w+ erwägt:", r"und in Erw[äa]gung, dass",
                ],
                "rulings": [
                    r"Demnach (erkennt|wird (verfügt|erkannt))",
                    r"Folgendes verfügt", r"(Der|Die|Das) \w+ verfügt:",
                ],
                "footer": [r"^\s*Zug,( den| vom)?\s\d{1,2}\.?\s?\w+\s\d{4}"],
            },
        },
    },
    "BE_BVD": {  # :1382-1406 (roman-numbered section labels)
        "markers": {
            "de": {
                "facts": [r"Sachverhalt"],
                "considerations": [r"II\. Erw[äa]gungen"],
                "rulings": [r"III\. Entscheid"],
                "footer": [r"IV\. Eröffnung"],
            },
            "fr": {
                "facts": [r"I\. Faits"],
                "considerations": [r"II\. Considérants"],
                "rulings": [r"III\. Décision"],
                "footer": [r"IV\. Notification"],
            },
        },
    },
    "BE_ZivilStraf": {  # :1407-1480 (facts fold into considerations)
        "markers": {
            "de": {
                "facts": [r"no facts section available"],
                "considerations": [
                    r"^Erw[äa]gungen:?$", r"Auszug aus den Erw[äa]gungen",
                    r"Formelles$", r"^Sachverhalt[ :]",
                ],
                "rulings": [
                    r"^Die (Aufsichtsbehörde|Kammer) entscheidet:",
                    r"(^|\. )Dispositiv",
                    r"^(Strafkammer|Die \d\. Strafkammer) (erkennt|beschliesst):",
                    r"^Die Beschwerdekammer in Strafsachen (beschliesst|hat beschlossen):",
                    r"^Das (Gericht|Handelsgericht) (beschliesst|entscheidet):",
                    r"^Die Verfahrensleitung verfügt:",
                    r"^Der Vizepräsident entscheidet:",
                ],
                "footer": [
                    r"^(Schriftlich z|Z)u eröffnen:", r"\d\. Zu eröffnen:",
                    r"^Rechtsmittelbelehrung", r"^Hinweis:",
                ],
            },
        },
    },
    "CH_BPatG": {  # :1481-1523 (no facts section)
        "markers": {
            "de": {
                "considerations": [
                    r"(Das Bundespatentgericht|(Der|Das) Präsident|Die Gerichtsleitung|Das Gericht|Der (Einzelrichter|Instruktionsrichter)) zieht in Erw[äa]gung[,:]",
                    r"Der Präsident erwägt:", r"Aus(zug aus)? den Erw[äa]gungen:",
                    r"Sachverhalt:",
                ],
                "rulings": [
                    r"(Der Instruktionsrichter|Das Bundespatentgericht|(Das|Der) Präsident) (erkennt|verfügt|beschliesst)[,:]",
                    r"Die Gerichtsleitung beschliesst:",
                    r"Der Einzelrichter erkennt:",
                ],
                "footer": [r"Rechtsmittelbelehrung:", r"Dieser Entscheid geht an:"],
            },
            "fr": {
                "considerations": [
                    r"Le Tribunal fédéral des brevets considère( :|:|,)",
                    r"Le [pP]résident considère( :|:|,)",
                ],
                "rulings": [
                    r"Le Tribunal fédéral des brevets décide:",
                    r"Le [pP]résident (décide|reconnaît):",
                ],
                "footer": [r"Voies de droit:"],
            },
            "it": {
                "considerations": [r"Considerando in fatto e in diritto:"],
                "rulings": [r"Per questi motivi, il giudice unico pronuncia:"],
                "footer": [r"Rimedi giuridici:"],
            },
        },
    },
}

# spiders sharing another spider's config verbatim in the reference
SPIDER_OVERRIDES["AG_Weitere"] = SPIDER_OVERRIDES["AG_Gerichte"]
SPIDER_OVERRIDES["SG_Publikationen"] = SPIDER_OVERRIDES["SG_Gerichte"]


@functools.lru_cache(maxsize=256)
def _compiled(lang: str, spider: str | None = None) -> dict[str, list[re.Pattern]]:
    # memoized: called once per (lang, spider) per executor, not per
    # document — the config table is static, so recompiling it in the
    # per-row hot loop would only burn CPU
    override = SPIDER_OVERRIDES.get(spider or "", {}).get("markers", {})
    generic = SECTION_MARKERS.get(lang, SECTION_MARKERS["de"])
    markers = {**generic, **override.get(lang, {})}
    return {s: [re.compile(p) for p in pats] for s, pats in markers.items()}


def split_sections_py(
    text: str | None, lang: str | None, spider: str | None = None
) -> list[dict]:
    """The sequential fold: current section starts at 'header'; a
    paragraph matching a STRICTLY LATER section's marker advances to it
    (the no-backtracking rule of `associate_sections`); every paragraph
    accrues to the current section.  ``spider`` selects per-spider
    overrides (section order / extra markers) — the dispatch the
    reference does via same-named functions, here via broadcast config.
    """
    if text is None:
        return []
    override = SPIDER_OVERRIDES.get(spider or "", {})
    order = override.get("order", SECTION_ORDER)
    compiled = _compiled(lang or "de", spider)
    paragraphs = [p.strip() for p in re.split(r"\n\s*\n|\n", text) if p.strip()]
    current = 0  # index into order
    buckets: dict[str, list[str]] = {s: [] for s in order}
    for para in paragraphs:
        # earliest later section whose marker matches wins (forward scan,
        # mirroring the reference's ordered next-section probe)
        for later_idx in range(current + 1, len(order)):
            sec = order[later_idx]
            if any(rx.search(para) for rx in compiled.get(sec, [])):
                current = later_idx
                break
        buckets[order[current]].append(para)
    out = [
        {"section": sec, "text": "\n".join(ps)}
        for sec, ps in buckets.items()
        if ps
    ]
    out.append({"section": "full_text", "text": "\n".join(paragraphs)})
    return out


split_sections_udf = row_udf("split_sections_udf", split_sections_py, SECTION_SCHEMA)
