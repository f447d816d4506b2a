"""The TPC-DS inputs the engine carries in the repo: the 24-table DDL
and the three query texts the driver gate promotes (q04, q64, q88).

Provenance: DuckDB 1.0.0's bundled ``tpcds`` extension.

- ``SCHEMAS`` is the Arrow schema of ``CALL dsdgen(sf=0)``, table by
  table in dsdgen's column order, written with the reference's type
  names (the strings its DESCRIBE prints): int32 -> Int32,
  string -> Utf8, date32 -> Date32, decimal(5,2) -> Decimal128(5,2),
  decimal(7,2) -> Decimal128(7,2), decimal(15,2) -> Decimal64(15,2).
- ``QUERIES`` holds ``tpcds_queries()`` rows 4, 64 and 88 verbatim.

tests/test_registry.py::test_tpcds_spec_matches_duckdb re-derives both
from DuckDB and fails on any drift. Every TPC-DS consumer reads this
module: parquet_testing.tpcds_schemas (the empty schema-exact SLT
files), tpcds_data.ensure (the differential fixture), tpcds_fixture
(the golden-derived tables) and operators/tpcds_diff (the gate rows).
Nothing here reads the reference checkout; where it exists, the SLT
allowlist's tpcds/describe_files.slt still checks the generated files
against the reference's own DESCRIBE goldens.
"""

from __future__ import annotations

SCHEMAS: dict[str, tuple[tuple[str, str], ...]] = {
    "call_center": (
        ("cc_call_center_sk", "Int32"),
        ("cc_call_center_id", "Utf8"),
        ("cc_rec_start_date", "Date32"),
        ("cc_rec_end_date", "Date32"),
        ("cc_closed_date_sk", "Int32"),
        ("cc_open_date_sk", "Int32"),
        ("cc_name", "Utf8"),
        ("cc_class", "Utf8"),
        ("cc_employees", "Int32"),
        ("cc_sq_ft", "Int32"),
        ("cc_hours", "Utf8"),
        ("cc_manager", "Utf8"),
        ("cc_mkt_id", "Int32"),
        ("cc_mkt_class", "Utf8"),
        ("cc_mkt_desc", "Utf8"),
        ("cc_market_manager", "Utf8"),
        ("cc_division", "Int32"),
        ("cc_division_name", "Utf8"),
        ("cc_company", "Int32"),
        ("cc_company_name", "Utf8"),
        ("cc_street_number", "Utf8"),
        ("cc_street_name", "Utf8"),
        ("cc_street_type", "Utf8"),
        ("cc_suite_number", "Utf8"),
        ("cc_city", "Utf8"),
        ("cc_county", "Utf8"),
        ("cc_state", "Utf8"),
        ("cc_zip", "Utf8"),
        ("cc_country", "Utf8"),
        ("cc_gmt_offset", "Decimal128(5,2)"),
        ("cc_tax_percentage", "Decimal128(5,2)"),
    ),
    "catalog_page": (
        ("cp_catalog_page_sk", "Int32"),
        ("cp_catalog_page_id", "Utf8"),
        ("cp_start_date_sk", "Int32"),
        ("cp_end_date_sk", "Int32"),
        ("cp_department", "Utf8"),
        ("cp_catalog_number", "Int32"),
        ("cp_catalog_page_number", "Int32"),
        ("cp_description", "Utf8"),
        ("cp_type", "Utf8"),
    ),
    "catalog_returns": (
        ("cr_returned_date_sk", "Int32"),
        ("cr_returned_time_sk", "Int32"),
        ("cr_item_sk", "Int32"),
        ("cr_refunded_customer_sk", "Int32"),
        ("cr_refunded_cdemo_sk", "Int32"),
        ("cr_refunded_hdemo_sk", "Int32"),
        ("cr_refunded_addr_sk", "Int32"),
        ("cr_returning_customer_sk", "Int32"),
        ("cr_returning_cdemo_sk", "Int32"),
        ("cr_returning_hdemo_sk", "Int32"),
        ("cr_returning_addr_sk", "Int32"),
        ("cr_call_center_sk", "Int32"),
        ("cr_catalog_page_sk", "Int32"),
        ("cr_ship_mode_sk", "Int32"),
        ("cr_warehouse_sk", "Int32"),
        ("cr_reason_sk", "Int32"),
        ("cr_order_number", "Int32"),
        ("cr_return_quantity", "Int32"),
        ("cr_return_amount", "Decimal128(7,2)"),
        ("cr_return_tax", "Decimal128(7,2)"),
        ("cr_return_amt_inc_tax", "Decimal128(7,2)"),
        ("cr_fee", "Decimal128(7,2)"),
        ("cr_return_ship_cost", "Decimal128(7,2)"),
        ("cr_refunded_cash", "Decimal128(7,2)"),
        ("cr_reversed_charge", "Decimal128(7,2)"),
        ("cr_store_credit", "Decimal128(7,2)"),
        ("cr_net_loss", "Decimal128(7,2)"),
    ),
    "catalog_sales": (
        ("cs_sold_date_sk", "Int32"),
        ("cs_sold_time_sk", "Int32"),
        ("cs_ship_date_sk", "Int32"),
        ("cs_bill_customer_sk", "Int32"),
        ("cs_bill_cdemo_sk", "Int32"),
        ("cs_bill_hdemo_sk", "Int32"),
        ("cs_bill_addr_sk", "Int32"),
        ("cs_ship_customer_sk", "Int32"),
        ("cs_ship_cdemo_sk", "Int32"),
        ("cs_ship_hdemo_sk", "Int32"),
        ("cs_ship_addr_sk", "Int32"),
        ("cs_call_center_sk", "Int32"),
        ("cs_catalog_page_sk", "Int32"),
        ("cs_ship_mode_sk", "Int32"),
        ("cs_warehouse_sk", "Int32"),
        ("cs_item_sk", "Int32"),
        ("cs_promo_sk", "Int32"),
        ("cs_order_number", "Int32"),
        ("cs_quantity", "Int32"),
        ("cs_wholesale_cost", "Decimal128(7,2)"),
        ("cs_list_price", "Decimal128(7,2)"),
        ("cs_sales_price", "Decimal128(7,2)"),
        ("cs_ext_discount_amt", "Decimal128(7,2)"),
        ("cs_ext_sales_price", "Decimal128(7,2)"),
        ("cs_ext_wholesale_cost", "Decimal128(7,2)"),
        ("cs_ext_list_price", "Decimal128(7,2)"),
        ("cs_ext_tax", "Decimal128(7,2)"),
        ("cs_coupon_amt", "Decimal128(7,2)"),
        ("cs_ext_ship_cost", "Decimal128(7,2)"),
        ("cs_net_paid", "Decimal128(7,2)"),
        ("cs_net_paid_inc_tax", "Decimal128(7,2)"),
        ("cs_net_paid_inc_ship", "Decimal128(7,2)"),
        ("cs_net_paid_inc_ship_tax", "Decimal128(7,2)"),
        ("cs_net_profit", "Decimal128(7,2)"),
    ),
    "customer": (
        ("c_customer_sk", "Int32"),
        ("c_customer_id", "Utf8"),
        ("c_current_cdemo_sk", "Int32"),
        ("c_current_hdemo_sk", "Int32"),
        ("c_current_addr_sk", "Int32"),
        ("c_first_shipto_date_sk", "Int32"),
        ("c_first_sales_date_sk", "Int32"),
        ("c_salutation", "Utf8"),
        ("c_first_name", "Utf8"),
        ("c_last_name", "Utf8"),
        ("c_preferred_cust_flag", "Utf8"),
        ("c_birth_day", "Int32"),
        ("c_birth_month", "Int32"),
        ("c_birth_year", "Int32"),
        ("c_birth_country", "Utf8"),
        ("c_login", "Utf8"),
        ("c_email_address", "Utf8"),
        ("c_last_review_date_sk", "Int32"),
    ),
    "customer_address": (
        ("ca_address_sk", "Int32"),
        ("ca_address_id", "Utf8"),
        ("ca_street_number", "Utf8"),
        ("ca_street_name", "Utf8"),
        ("ca_street_type", "Utf8"),
        ("ca_suite_number", "Utf8"),
        ("ca_city", "Utf8"),
        ("ca_county", "Utf8"),
        ("ca_state", "Utf8"),
        ("ca_zip", "Utf8"),
        ("ca_country", "Utf8"),
        ("ca_gmt_offset", "Decimal128(5,2)"),
        ("ca_location_type", "Utf8"),
    ),
    "customer_demographics": (
        ("cd_demo_sk", "Int32"),
        ("cd_gender", "Utf8"),
        ("cd_marital_status", "Utf8"),
        ("cd_education_status", "Utf8"),
        ("cd_purchase_estimate", "Int32"),
        ("cd_credit_rating", "Utf8"),
        ("cd_dep_count", "Int32"),
        ("cd_dep_employed_count", "Int32"),
        ("cd_dep_college_count", "Int32"),
    ),
    "date_dim": (
        ("d_date_sk", "Int32"),
        ("d_date_id", "Utf8"),
        ("d_date", "Date32"),
        ("d_month_seq", "Int32"),
        ("d_week_seq", "Int32"),
        ("d_quarter_seq", "Int32"),
        ("d_year", "Int32"),
        ("d_dow", "Int32"),
        ("d_moy", "Int32"),
        ("d_dom", "Int32"),
        ("d_qoy", "Int32"),
        ("d_fy_year", "Int32"),
        ("d_fy_quarter_seq", "Int32"),
        ("d_fy_week_seq", "Int32"),
        ("d_day_name", "Utf8"),
        ("d_quarter_name", "Utf8"),
        ("d_holiday", "Utf8"),
        ("d_weekend", "Utf8"),
        ("d_following_holiday", "Utf8"),
        ("d_first_dom", "Int32"),
        ("d_last_dom", "Int32"),
        ("d_same_day_ly", "Int32"),
        ("d_same_day_lq", "Int32"),
        ("d_current_day", "Utf8"),
        ("d_current_week", "Utf8"),
        ("d_current_month", "Utf8"),
        ("d_current_quarter", "Utf8"),
        ("d_current_year", "Utf8"),
    ),
    "household_demographics": (
        ("hd_demo_sk", "Int32"),
        ("hd_income_band_sk", "Int32"),
        ("hd_buy_potential", "Utf8"),
        ("hd_dep_count", "Int32"),
        ("hd_vehicle_count", "Int32"),
    ),
    "income_band": (
        ("ib_income_band_sk", "Int32"),
        ("ib_lower_bound", "Int32"),
        ("ib_upper_bound", "Int32"),
    ),
    "inventory": (
        ("inv_date_sk", "Int32"),
        ("inv_item_sk", "Int32"),
        ("inv_warehouse_sk", "Int32"),
        ("inv_quantity_on_hand", "Int32"),
    ),
    "item": (
        ("i_item_sk", "Int32"),
        ("i_item_id", "Utf8"),
        ("i_rec_start_date", "Date32"),
        ("i_rec_end_date", "Date32"),
        ("i_item_desc", "Utf8"),
        ("i_current_price", "Decimal128(7,2)"),
        ("i_wholesale_cost", "Decimal128(7,2)"),
        ("i_brand_id", "Int32"),
        ("i_brand", "Utf8"),
        ("i_class_id", "Int32"),
        ("i_class", "Utf8"),
        ("i_category_id", "Int32"),
        ("i_category", "Utf8"),
        ("i_manufact_id", "Int32"),
        ("i_manufact", "Utf8"),
        ("i_size", "Utf8"),
        ("i_formulation", "Utf8"),
        ("i_color", "Utf8"),
        ("i_units", "Utf8"),
        ("i_container", "Utf8"),
        ("i_manager_id", "Int32"),
        ("i_product_name", "Utf8"),
    ),
    "promotion": (
        ("p_promo_sk", "Int32"),
        ("p_promo_id", "Utf8"),
        ("p_start_date_sk", "Int32"),
        ("p_end_date_sk", "Int32"),
        ("p_item_sk", "Int32"),
        ("p_cost", "Decimal64(15,2)"),
        ("p_response_target", "Int32"),
        ("p_promo_name", "Utf8"),
        ("p_channel_dmail", "Utf8"),
        ("p_channel_email", "Utf8"),
        ("p_channel_catalog", "Utf8"),
        ("p_channel_tv", "Utf8"),
        ("p_channel_radio", "Utf8"),
        ("p_channel_press", "Utf8"),
        ("p_channel_event", "Utf8"),
        ("p_channel_demo", "Utf8"),
        ("p_channel_details", "Utf8"),
        ("p_purpose", "Utf8"),
        ("p_discount_active", "Utf8"),
    ),
    "reason": (
        ("r_reason_sk", "Int32"),
        ("r_reason_id", "Utf8"),
        ("r_reason_desc", "Utf8"),
    ),
    "ship_mode": (
        ("sm_ship_mode_sk", "Int32"),
        ("sm_ship_mode_id", "Utf8"),
        ("sm_type", "Utf8"),
        ("sm_code", "Utf8"),
        ("sm_carrier", "Utf8"),
        ("sm_contract", "Utf8"),
    ),
    "store": (
        ("s_store_sk", "Int32"),
        ("s_store_id", "Utf8"),
        ("s_rec_start_date", "Date32"),
        ("s_rec_end_date", "Date32"),
        ("s_closed_date_sk", "Int32"),
        ("s_store_name", "Utf8"),
        ("s_number_employees", "Int32"),
        ("s_floor_space", "Int32"),
        ("s_hours", "Utf8"),
        ("s_manager", "Utf8"),
        ("s_market_id", "Int32"),
        ("s_geography_class", "Utf8"),
        ("s_market_desc", "Utf8"),
        ("s_market_manager", "Utf8"),
        ("s_division_id", "Int32"),
        ("s_division_name", "Utf8"),
        ("s_company_id", "Int32"),
        ("s_company_name", "Utf8"),
        ("s_street_number", "Utf8"),
        ("s_street_name", "Utf8"),
        ("s_street_type", "Utf8"),
        ("s_suite_number", "Utf8"),
        ("s_city", "Utf8"),
        ("s_county", "Utf8"),
        ("s_state", "Utf8"),
        ("s_zip", "Utf8"),
        ("s_country", "Utf8"),
        ("s_gmt_offset", "Decimal128(5,2)"),
        ("s_tax_percentage", "Decimal128(5,2)"),
    ),
    "store_returns": (
        ("sr_returned_date_sk", "Int32"),
        ("sr_return_time_sk", "Int32"),
        ("sr_item_sk", "Int32"),
        ("sr_customer_sk", "Int32"),
        ("sr_cdemo_sk", "Int32"),
        ("sr_hdemo_sk", "Int32"),
        ("sr_addr_sk", "Int32"),
        ("sr_store_sk", "Int32"),
        ("sr_reason_sk", "Int32"),
        ("sr_ticket_number", "Int32"),
        ("sr_return_quantity", "Int32"),
        ("sr_return_amt", "Decimal128(7,2)"),
        ("sr_return_tax", "Decimal128(7,2)"),
        ("sr_return_amt_inc_tax", "Decimal128(7,2)"),
        ("sr_fee", "Decimal128(7,2)"),
        ("sr_return_ship_cost", "Decimal128(7,2)"),
        ("sr_refunded_cash", "Decimal128(7,2)"),
        ("sr_reversed_charge", "Decimal128(7,2)"),
        ("sr_store_credit", "Decimal128(7,2)"),
        ("sr_net_loss", "Decimal128(7,2)"),
    ),
    "store_sales": (
        ("ss_sold_date_sk", "Int32"),
        ("ss_sold_time_sk", "Int32"),
        ("ss_item_sk", "Int32"),
        ("ss_customer_sk", "Int32"),
        ("ss_cdemo_sk", "Int32"),
        ("ss_hdemo_sk", "Int32"),
        ("ss_addr_sk", "Int32"),
        ("ss_store_sk", "Int32"),
        ("ss_promo_sk", "Int32"),
        ("ss_ticket_number", "Int32"),
        ("ss_quantity", "Int32"),
        ("ss_wholesale_cost", "Decimal128(7,2)"),
        ("ss_list_price", "Decimal128(7,2)"),
        ("ss_sales_price", "Decimal128(7,2)"),
        ("ss_ext_discount_amt", "Decimal128(7,2)"),
        ("ss_ext_sales_price", "Decimal128(7,2)"),
        ("ss_ext_wholesale_cost", "Decimal128(7,2)"),
        ("ss_ext_list_price", "Decimal128(7,2)"),
        ("ss_ext_tax", "Decimal128(7,2)"),
        ("ss_coupon_amt", "Decimal128(7,2)"),
        ("ss_net_paid", "Decimal128(7,2)"),
        ("ss_net_paid_inc_tax", "Decimal128(7,2)"),
        ("ss_net_profit", "Decimal128(7,2)"),
    ),
    "time_dim": (
        ("t_time_sk", "Int32"),
        ("t_time_id", "Utf8"),
        ("t_time", "Int32"),
        ("t_hour", "Int32"),
        ("t_minute", "Int32"),
        ("t_second", "Int32"),
        ("t_am_pm", "Utf8"),
        ("t_shift", "Utf8"),
        ("t_sub_shift", "Utf8"),
        ("t_meal_time", "Utf8"),
    ),
    "warehouse": (
        ("w_warehouse_sk", "Int32"),
        ("w_warehouse_id", "Utf8"),
        ("w_warehouse_name", "Utf8"),
        ("w_warehouse_sq_ft", "Int32"),
        ("w_street_number", "Utf8"),
        ("w_street_name", "Utf8"),
        ("w_street_type", "Utf8"),
        ("w_suite_number", "Utf8"),
        ("w_city", "Utf8"),
        ("w_county", "Utf8"),
        ("w_state", "Utf8"),
        ("w_zip", "Utf8"),
        ("w_country", "Utf8"),
        ("w_gmt_offset", "Decimal128(5,2)"),
    ),
    "web_page": (
        ("wp_web_page_sk", "Int32"),
        ("wp_web_page_id", "Utf8"),
        ("wp_rec_start_date", "Date32"),
        ("wp_rec_end_date", "Date32"),
        ("wp_creation_date_sk", "Int32"),
        ("wp_access_date_sk", "Int32"),
        ("wp_autogen_flag", "Utf8"),
        ("wp_customer_sk", "Int32"),
        ("wp_url", "Utf8"),
        ("wp_type", "Utf8"),
        ("wp_char_count", "Int32"),
        ("wp_link_count", "Int32"),
        ("wp_image_count", "Int32"),
        ("wp_max_ad_count", "Int32"),
    ),
    "web_returns": (
        ("wr_returned_date_sk", "Int32"),
        ("wr_returned_time_sk", "Int32"),
        ("wr_item_sk", "Int32"),
        ("wr_refunded_customer_sk", "Int32"),
        ("wr_refunded_cdemo_sk", "Int32"),
        ("wr_refunded_hdemo_sk", "Int32"),
        ("wr_refunded_addr_sk", "Int32"),
        ("wr_returning_customer_sk", "Int32"),
        ("wr_returning_cdemo_sk", "Int32"),
        ("wr_returning_hdemo_sk", "Int32"),
        ("wr_returning_addr_sk", "Int32"),
        ("wr_web_page_sk", "Int32"),
        ("wr_reason_sk", "Int32"),
        ("wr_order_number", "Int32"),
        ("wr_return_quantity", "Int32"),
        ("wr_return_amt", "Decimal128(7,2)"),
        ("wr_return_tax", "Decimal128(7,2)"),
        ("wr_return_amt_inc_tax", "Decimal128(7,2)"),
        ("wr_fee", "Decimal128(7,2)"),
        ("wr_return_ship_cost", "Decimal128(7,2)"),
        ("wr_refunded_cash", "Decimal128(7,2)"),
        ("wr_reversed_charge", "Decimal128(7,2)"),
        ("wr_account_credit", "Decimal128(7,2)"),
        ("wr_net_loss", "Decimal128(7,2)"),
    ),
    "web_sales": (
        ("ws_sold_date_sk", "Int32"),
        ("ws_sold_time_sk", "Int32"),
        ("ws_ship_date_sk", "Int32"),
        ("ws_item_sk", "Int32"),
        ("ws_bill_customer_sk", "Int32"),
        ("ws_bill_cdemo_sk", "Int32"),
        ("ws_bill_hdemo_sk", "Int32"),
        ("ws_bill_addr_sk", "Int32"),
        ("ws_ship_customer_sk", "Int32"),
        ("ws_ship_cdemo_sk", "Int32"),
        ("ws_ship_hdemo_sk", "Int32"),
        ("ws_ship_addr_sk", "Int32"),
        ("ws_web_page_sk", "Int32"),
        ("ws_web_site_sk", "Int32"),
        ("ws_ship_mode_sk", "Int32"),
        ("ws_warehouse_sk", "Int32"),
        ("ws_promo_sk", "Int32"),
        ("ws_order_number", "Int32"),
        ("ws_quantity", "Int32"),
        ("ws_wholesale_cost", "Decimal128(7,2)"),
        ("ws_list_price", "Decimal128(7,2)"),
        ("ws_sales_price", "Decimal128(7,2)"),
        ("ws_ext_discount_amt", "Decimal128(7,2)"),
        ("ws_ext_sales_price", "Decimal128(7,2)"),
        ("ws_ext_wholesale_cost", "Decimal128(7,2)"),
        ("ws_ext_list_price", "Decimal128(7,2)"),
        ("ws_ext_tax", "Decimal128(7,2)"),
        ("ws_coupon_amt", "Decimal128(7,2)"),
        ("ws_ext_ship_cost", "Decimal128(7,2)"),
        ("ws_net_paid", "Decimal128(7,2)"),
        ("ws_net_paid_inc_tax", "Decimal128(7,2)"),
        ("ws_net_paid_inc_ship", "Decimal128(7,2)"),
        ("ws_net_paid_inc_ship_tax", "Decimal128(7,2)"),
        ("ws_net_profit", "Decimal128(7,2)"),
    ),
    "web_site": (
        ("web_site_sk", "Int32"),
        ("web_site_id", "Utf8"),
        ("web_rec_start_date", "Date32"),
        ("web_rec_end_date", "Date32"),
        ("web_name", "Utf8"),
        ("web_open_date_sk", "Int32"),
        ("web_close_date_sk", "Int32"),
        ("web_class", "Utf8"),
        ("web_manager", "Utf8"),
        ("web_mkt_id", "Int32"),
        ("web_mkt_class", "Utf8"),
        ("web_mkt_desc", "Utf8"),
        ("web_market_manager", "Utf8"),
        ("web_company_id", "Int32"),
        ("web_company_name", "Utf8"),
        ("web_street_number", "Utf8"),
        ("web_street_name", "Utf8"),
        ("web_street_type", "Utf8"),
        ("web_suite_number", "Utf8"),
        ("web_city", "Utf8"),
        ("web_county", "Utf8"),
        ("web_state", "Utf8"),
        ("web_zip", "Utf8"),
        ("web_country", "Utf8"),
        ("web_gmt_offset", "Decimal128(5,2)"),
        ("web_tax_percentage", "Decimal128(5,2)"),
    ),
}

# tpcds_queries() rows 4, 64 and 88, verbatim (trailing ';' and newlines
# included)
QUERIES: dict[str, str] = {
    "q04": """\
WITH year_total AS
  (SELECT c_customer_id customer_id,
          c_first_name customer_first_name,
          c_last_name customer_last_name,
          c_preferred_cust_flag customer_preferred_cust_flag,
          c_birth_country customer_birth_country,
          c_login customer_login,
          c_email_address customer_email_address,
          d_year dyear,
          sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total,
          's' sale_type
   FROM customer,
        store_sales,
        date_dim
   WHERE c_customer_sk = ss_customer_sk
     AND ss_sold_date_sk = d_date_sk
   GROUP BY c_customer_id,
            c_first_name,
            c_last_name,
            c_preferred_cust_flag,
            c_birth_country,
            c_login,
            c_email_address,
            d_year
   UNION ALL SELECT c_customer_id customer_id,
                    c_first_name customer_first_name,
                    c_last_name customer_last_name,
                    c_preferred_cust_flag customer_preferred_cust_flag,
                    c_birth_country customer_birth_country,
                    c_login customer_login,
                    c_email_address customer_email_address,
                    d_year dyear,
                    sum((((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2)) year_total,
                    'c' sale_type
   FROM customer,
        catalog_sales,
        date_dim
   WHERE c_customer_sk = cs_bill_customer_sk
     AND cs_sold_date_sk = d_date_sk
   GROUP BY c_customer_id,
            c_first_name,
            c_last_name,
            c_preferred_cust_flag,
            c_birth_country,
            c_login,
            c_email_address,
            d_year
   UNION ALL SELECT c_customer_id customer_id,
                    c_first_name customer_first_name,
                    c_last_name customer_last_name,
                    c_preferred_cust_flag customer_preferred_cust_flag,
                    c_birth_country customer_birth_country,
                    c_login customer_login,
                    c_email_address customer_email_address,
                    d_year dyear,
                    sum((((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2)) year_total,
                    'w' sale_type
   FROM customer,
        web_sales,
        date_dim
   WHERE c_customer_sk = ws_bill_customer_sk
     AND ws_sold_date_sk = d_date_sk
   GROUP BY c_customer_id,
            c_first_name,
            c_last_name,
            c_preferred_cust_flag,
            c_birth_country,
            c_login,
            c_email_address,
            d_year)
SELECT t_s_secyear.customer_id,
       t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear,
     year_total t_s_secyear,
     year_total t_c_firstyear,
     year_total t_c_secyear,
     year_total t_w_firstyear,
     year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 2001
  AND t_s_secyear.dyear = 2001+1
  AND t_c_firstyear.dyear = 2001
  AND t_c_secyear.dyear = 2001+1
  AND t_w_firstyear.dyear = 2001
  AND t_w_secyear.dyear = 2001+1
  AND t_s_firstyear.year_total > 0
  AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE
          WHEN t_c_firstyear.year_total > 0 THEN t_c_secyear.year_total / t_c_firstyear.year_total
          ELSE NULL
      END > CASE
                WHEN t_s_firstyear.year_total > 0 THEN t_s_secyear.year_total / t_s_firstyear.year_total
                ELSE NULL
            END
  AND CASE
          WHEN t_c_firstyear.year_total > 0 THEN t_c_secyear.year_total / t_c_firstyear.year_total
          ELSE NULL
      END > CASE
                WHEN t_w_firstyear.year_total > 0 THEN t_w_secyear.year_total / t_w_firstyear.year_total
                ELSE NULL
            END
ORDER BY t_s_secyear.customer_id NULLS FIRST,
         t_s_secyear.customer_first_name NULLS FIRST,
         t_s_secyear.customer_last_name NULLS FIRST,
         t_s_secyear.customer_preferred_cust_flag NULLS FIRST
LIMIT 100;

""",
    "q64": """\
WITH cs_ui AS
  (SELECT cs_item_sk,
          sum(cs_ext_list_price) AS sale,
          sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit) AS refund
   FROM catalog_sales,
        catalog_returns
   WHERE cs_item_sk = cr_item_sk
     AND cs_order_number = cr_order_number
   GROUP BY cs_item_sk
   HAVING sum(cs_ext_list_price)>2*sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit)),
     cross_sales AS
  (SELECT i_product_name product_name,
          i_item_sk item_sk,
          s_store_name store_name,
          s_zip store_zip,
          ad1.ca_street_number b_street_number,
          ad1.ca_street_name b_street_name,
          ad1.ca_city b_city,
          ad1.ca_zip b_zip,
          ad2.ca_street_number c_street_number,
          ad2.ca_street_name c_street_name,
          ad2.ca_city c_city,
          ad2.ca_zip c_zip,
          d1.d_year AS syear,
          d2.d_year AS fsyear,
          d3.d_year s2year,
          count(*) cnt,
          sum(ss_wholesale_cost) s1,
          sum(ss_list_price) s2,
          sum(ss_coupon_amt) s3
   FROM store_sales,
        store_returns,
        cs_ui,
        date_dim d1,
        date_dim d2,
        date_dim d3,
        store,
        customer,
        customer_demographics cd1,
        customer_demographics cd2,
        promotion,
        household_demographics hd1,
        household_demographics hd2,
        customer_address ad1,
        customer_address ad2,
        income_band ib1,
        income_band ib2,
        item
   WHERE ss_store_sk = s_store_sk
     AND ss_sold_date_sk = d1.d_date_sk
     AND ss_customer_sk = c_customer_sk
     AND ss_cdemo_sk= cd1.cd_demo_sk
     AND ss_hdemo_sk = hd1.hd_demo_sk
     AND ss_addr_sk = ad1.ca_address_sk
     AND ss_item_sk = i_item_sk
     AND ss_item_sk = sr_item_sk
     AND ss_ticket_number = sr_ticket_number
     AND ss_item_sk = cs_ui.cs_item_sk
     AND c_current_cdemo_sk = cd2.cd_demo_sk
     AND c_current_hdemo_sk = hd2.hd_demo_sk
     AND c_current_addr_sk = ad2.ca_address_sk
     AND c_first_sales_date_sk = d2.d_date_sk
     AND c_first_shipto_date_sk = d3.d_date_sk
     AND ss_promo_sk = p_promo_sk
     AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
     AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
     AND cd1.cd_marital_status <> cd2.cd_marital_status
     AND i_color IN ('purple',
                     'burlywood',
                     'indian',
                     'spring',
                     'floral',
                     'medium')
     AND i_current_price BETWEEN 64 AND 64 + 10
     AND i_current_price BETWEEN 64 + 1 AND 64 + 15
   GROUP BY i_product_name,
            i_item_sk,
            s_store_name,
            s_zip,
            ad1.ca_street_number,
            ad1.ca_street_name,
            ad1.ca_city,
            ad1.ca_zip,
            ad2.ca_street_number,
            ad2.ca_street_name,
            ad2.ca_city,
            ad2.ca_zip,
            d1.d_year,
            d2.d_year,
            d3.d_year)
SELECT cs1.product_name,
       cs1.store_name,
       cs1.store_zip,
       cs1.b_street_number,
       cs1.b_street_name,
       cs1.b_city,
       cs1.b_zip,
       cs1.c_street_number,
       cs1.c_street_name,
       cs1.c_city,
       cs1.c_zip,
       cs1.syear cs1syear,
       cs1.cnt cs1cnt,
       cs1.s1 AS s11,
       cs1.s2 AS s21,
       cs1.s3 AS s31,
       cs2.s1 AS s12,
       cs2.s2 AS s22,
       cs2.s3 AS s32,
       cs2.syear,
       cs2.cnt
FROM cross_sales cs1,
     cross_sales cs2
WHERE cs1.item_sk=cs2.item_sk
  AND cs1.syear = 1999
  AND cs2.syear = 1999 + 1
  AND cs2.cnt <= cs1.cnt
  AND cs1.store_name = cs2.store_name
  AND cs1.store_zip = cs2.store_zip
ORDER BY cs1.product_name,
         cs1.store_name,
         cs2.cnt,
         cs1.s1,
         cs2.s1;

""",
    "q88": """\
SELECT *
FROM
  (SELECT count(*) h8_30_to_9
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 8
     AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s1,
  (SELECT count(*) h9_to_9_30
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 9
     AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s2,
  (SELECT count(*) h9_30_to_10
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 9
     AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s3,
  (SELECT count(*) h10_to_10_30
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 10
     AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s4,
  (SELECT count(*) h10_30_to_11
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 10
     AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s5,
  (SELECT count(*) h11_to_11_30
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 11
     AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s6,
  (SELECT count(*) h11_30_to_12
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 11
     AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s7,
  (SELECT count(*) h12_to_12_30
   FROM store_sales,
        household_demographics,
        time_dim,
        store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 12
     AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4
           AND household_demographics.hd_vehicle_count<=4+2)
          OR (household_demographics.hd_dep_count = 2
              AND household_demographics.hd_vehicle_count<=2+2)
          OR (household_demographics.hd_dep_count = 0
              AND household_demographics.hd_vehicle_count<=0+2))
     AND store.s_store_name = 'ese') s8 ;

""",
}
