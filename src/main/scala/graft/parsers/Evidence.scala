package graft.parsers

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared evidence-string vocabulary (reference `common/evidence.py`).
  *
  * Every parser emits rows of the Open Targets evidence shape: flat scalar
  * core fields plus controlled nested array/struct fields (SURVEY.md §1.1).
  */
object Evidence {

  /** `urls` array<struct<niceName,url>> element (reference
    * `common/evidence.py:176-183` conditional struct wrap).
    */
  def urlStruct(niceName: String, url: Column): Column =
    when(url.isNotNull, array(struct(lit(niceName).as("niceName"), url.as("url"))))

  /** Split a delimiter-separated PMID list into a trimmed, de-duplicated,
    * sorted array (`Gene2Phenotype.py:118-120`).
    */
  def literatureList(pmids: Column, sep: String = ";"): Column =
    when(pmids.isNotNull,
      sort_array(array_distinct(filter(transform(split(pmids, sep), trim(_)), p => p =!= ""))))
}
